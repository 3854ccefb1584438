package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Similarity search over embedding columns (SURVEY §2.13 `sim_topk`,
  * builder north star).
  *
  * Baseline: brute-force cosine top-k — query side broadcast, candidate
  * side streamed, so the plan is a BroadcastNestedLoopJoin with the cosine
  * evaluated by codegen'd higher-order functions (`zip_with` +
  * `aggregate`), no UDF.
  *
  * Scale path: random-hyperplane LSH ([[lshBuckets]]) — each vector gets a
  * small integer bucket (map-only); the candidate join is an equi-join on
  * bucket, turning O(n·q) into O(n·q/2^bits) with a shuffle keyed by
  * bucket. Hyperplanes are derived from a fixed seed so results are
  * deterministic across cluster sizes.
  */
object Similarity {

  /** Element products summed in index order — matches DuckDB's
    * list_inner_product fold order so doubles are bit-identical. Native
    * codegen'd expression (see graft.functions.VectorOps); both inputs
    * must already be array<double>. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  def cosine(a: Column, b: Column): Column = {
    val ad = toDoubleArr(a)
    val bd = toDoubleArr(b)
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Sign-bit bucket of `vec` (a double-array column) against `bits`
    * seeded-random hyperplanes. Hyperplanes are generated from a fixed
    * seed per table — no stored model, identical on every executor and
    * cluster size. Each projection is one zip_with/aggregate pair over an
    * array *literal*, keeping the Catalyst tree ~5 nodes per plane
    * (an unrolled per-element sum is ~16k nodes for 8 tables and chokes
    * both the optimizer and codegen — measured 31 s vs 2 s on sf0.1). */
  /** The seeded hyperplanes for one LSH table — single source of truth
    * for [[lshBucket]] AND the DuckDB oracle (which embeds the same
    * constants as array literals; Double.toString round-trips exactly
    * through DuckDB's parser, and the dot fold order matches
    * list_inner_product, so the sign decisions are bit-identical). */
  def lshPlanes(dim: Int, bits: Int, table: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42 + 1000L * table)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def lshBucket(vec: Column, dim: Int, bits: Int, table: Int = 0): Column = {
    val planes = lshPlanes(dim, bits, table)
    (0 until bits).map { p =>
      val proj = dot(vec, typedLit(planes(p).toSeq))
      when(proj >= 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))
  }

  /** (id, double-array embedding, norm) — norms computed once per vector
    * so downstream joins only evaluate the dot product (cosine =
    * dot/(na*nb), same operation order as the oracle SQL). */
  def withNorm(emb: DataFrame, idAs: String, embAs: String, normAs: String): DataFrame =
    emb.select(col("vec_id").as(idAs), toDoubleArr(col("embedding")).as(embAs))
      .withColumn(normAs, sqrt(dot(col(embAs), col(embAs))))

  /** Brute-force cosine top-k: queries broadcast against all candidates. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = broadcast(withNorm(emb.filter(queryPred), "q_id", "qe", "qn"))
    val c = withNorm(emb, "n_id", "ne", "nn")
    val scored = q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Multi-table LSH approximate top-k: `tables` independent sign-bit
    * hashes; candidates = union over tables of same-bucket vectors, scored
    * once. The candidate join is an equi-join on (table, bucket) — a
    * shuffle keyed by bucket instead of a cross join, which is what makes
    * this the 100 TB path (cross-join cost n·q → n·q·P(collision)).
    * bits/tables trade recall vs candidate count; 4/8 gives ~0.7 recall
    * even on near-random vectors (measured in SimilaritySpec). */
  /** Distinct LSH candidate pairs (q_id, n_id) — the frame `lshTopK`
    * scores. Public for scale-trend observability: candidate count vs
    * n·q is the subquadratic-routing evidence. */
  def lshCandidates(emb: DataFrame, queryPred: Column,
      bits: Int = 4, tables: Int = 8): DataFrame = {
    val dim = 64
    // ids-only bucketing: the payload never enters the candidate join or
    // the distinct — only (vec_id, tbl, bucket) triples shuffle.
    val embD = emb.select(col("vec_id"), toDoubleArr(col("embedding")).as("ed"))
    val bucketCols = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(col("ed"), dim, bits, t).as("bucket"))): _*)
    val bucketed = embD.select(col("vec_id"), explode(bucketCols).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = broadcast(bucketed.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket")))
    val c = bucketed.select(col("vec_id").as("n_id"), col("tbl"), col("bucket"))
    q.join(c, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
  }

  def lshTopK(emb: DataFrame, queryPred: Column, k: Int,
      bits: Int = 4, tables: Int = 8): DataFrame = {
    val cands = lshCandidates(emb, queryPred, bits, tables)
    // embeddings re-attached only for surviving candidates
    val qe = broadcast(withNorm(emb.filter(queryPred), "q_id", "qe", "qn"))
    val ne = withNorm(emb, "n_id", "ne", "nn")
    val scored = cands.join(qe, "q_id").join(ne, "n_id")
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** IVF approximate top-k: a k-means coarse quantizer (deterministic
    * stride seeding + `iters` Lloyd rounds, each round one distributed
    * aggregate; the nlist×dim centroid table lives on the driver exactly
    * like any IVF model) assigns every vector to an inverted list; a
    * query probes its `nprobe` nearest lists only. The candidate join is
    * an equi-join on cluster id — at 100 TB the corpus side shuffles once
    * by cluster and each query touches nprobe/nlist of the data; compare
    * `lshTopK` (no training, random buckets) vs IVF (trained buckets,
    * better recall/probe on clustered data). */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame =
    ivfProbe(emb, ivfCentroids(emb, nlist, iters), queryPred, k, nprobe)

  /** IVF training only: deterministic stride seeding + `iters` Lloyd
    * rounds. With `iters = 0` the centroids are exactly the stride-seeded
    * DATA ROWS (selectable in SQL — that is what hash-gates the seeded
    * registry variant). The input is cached only for the duration of
    * training (every Lloyd round is an eager action) and released before
    * returning — no persistent RDD leaks across the bench. */
  def ivfCentroids(emb: DataFrame, nlist: Int = 16,
      iters: Int = 2): Array[Array[Double]] = {
    val e = withNorm(emb, "vec_id", "ed", "norm").cache()
    val n = e.count()
    val stride = math.max(1L, n / nlist)
    var centroids: Array[Array[Double]] = e
      .filter(col("vec_id") % stride === 0).orderBy("vec_id").limit(nlist)
      .select("ed").collect().map(_.getSeq[Double](0).toArray)

    // Lloyd update: per-dimension avg as `dim` column aggregates — stays
    // partial-aggregated (map-side combine collapses each partition to
    // one row per cluster before the exchange). The posexplode
    // formulation shuffles n×dim rows per round instead.
    val dimN = centroids(0).length
    for (_ <- 0 until iters) {
      val assigned = e.withColumn("cluster",
        array_max(array(cosToCentroids(centroids): _*)).getField("k"))
      val avgs = (0 until dimN).map(i => avg(col("ed").getItem(i)).as(s"c$i"))
      val upd = assigned.groupBy("cluster").agg(avgs.head, avgs.tail: _*)
        .collect()
      val byCluster = upd.map(r => r.getInt(0) -> r).toMap
      centroids = centroids.indices.map { i =>
        byCluster.get(i)
          .map(r => Array.tabulate(dimN)(j => r.getDouble(1 + j)))
          .getOrElse(centroids(i))
      }.toArray
    }
    e.unpersist(blocking = false)
    centroids
  }

  /** struct(cosine-to-centroid i, i) columns over (`ed`, `norm`) — shared
    * by training and probe so assignment semantics are identical. */
  private def cosToCentroids(cArr: Array[Array[Double]]): Seq[Column] = {
    val norms = cArr.map(c => math.sqrt(c.map(x => x * x).sum))
    cArr.indices.map { i =>
      struct(
        (dot(col("ed"), typedLit(cArr(i).toSeq)) / (col("norm") * lit(norms(i))))
          .as("c"),
        lit(i).as("k"))
    }
  }

  /** IVF probe with a given centroid table: assignment → `nprobe` nearest
    * lists per query → candidate equi-join on cluster id → exact top-k on
    * candidates. The corpus side shuffles once by cluster; each query
    * touches nprobe/nlist of the data. */
  def ivfProbe(emb: DataFrame, centroids: Array[Array[Double]],
      queryPred: Column, k: Int, nprobe: Int = 4): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm").withColumn("_q", queryPred)
    val assigned = e.withColumn("cluster",
      array_max(array(cosToCentroids(centroids): _*)).getField("k"))
    val probes = assigned.filter(col("_q"))
      .withColumn("probe",
        explode(slice(reverse(array_sort(array(cosToCentroids(centroids): _*))), 1, nprobe)))
      .select(col("vec_id").as("q_id"), col("ed").as("qe"),
        col("norm").as("qn"), col("probe.k").as("cluster"))
    val lists = assigned.select(col("vec_id").as("n_id"), col("ed").as("ne"),
      col("norm").as("nn"), col("cluster"))
    val cands = probes.join(lists, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    val scored = cands.withColumn("cos",
      dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Product-quantization approximate top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search") — the COMPRESSION leg of
    * the production IVF-PQ stack ([[ivfProbe]] is the routing leg): the
    * 64-dim corpus is encoded as m=8 one-byte codes (16 codewords per
    * 8-dim subspace), queries rank the whole corpus by ADC (asymmetric
    * distance computation — table lookups into the query's precomputed
    * per-subspace distance arrays), and only the `cands` best-estimated
    * ids get the exact-cosine re-rank.
    *
    * Scale shape: the codebook is MODEL-sized (m·K·dim/m doubles) and
    * rides the closure as literals, so encoding is pure map-side — the
    * stored index is 8 bytes/vector vs 512 for raw doubles, a 64×
    * scan-size cut, which is the entire point at 100 TB: the ADC pass
    * streams the code table (broadcast queries × codes, M lookups +
    * M−1 adds per row — never a 64-dim dot), and the full vectors are
    * touched only for `cands` rows per query. Routing quality is
    * measured, not assumed (SimilaritySpec asserts recall@k vs the
    * brute-force baseline; the dial sweep on sf0.001 reads m=4/c=32
    * 0.32, m=8/c=32 0.44, m=8/c=64 0.68 — subspace count buys more
    * recall per stored byte than candidate budget does). SCALE_r07
    * session 5 measures the decade: recall at FIXED cands falls with n
    * (0.44 → 0.18 at 100× docs) — the production dial scales cands
    * with n or routes through IVF lists first (both legs registered);
    * and the local brute scan wins wall-clock at sandbox sizes — PQ's
    * case is the 64× smaller stored index, which pays off only when
    * the vector table no longer fits the scan budget.
    *
    * Determinism / hash gate: the codewords are the SAME stride-seeded
    * data rows as `sim_ann_ivf_seeded` (0 Lloyd rounds), so DuckDB
    * re-derives them with a SELECT; subspace L2² terms are computed with
    * identical parenthesization on both engines (dot fold order matches
    * list_inner_product), argmin/rank tie-breaks are pinned (d ASC then
    * codeword, est ASC then n_id), and the 4-term ADC sum is explicit
    * left-associated adds, never a SUM aggregate with engine-chosen
    * order. */
  def pqTopK(emb: DataFrame, codewords: Array[Array[Double]],
      queryPred: Column, k: Int, m: Int = 8, cands: Int = 32): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm")
      // the ranking metric is COSINE: encode UNIT vectors, where
      // L2² = 2 − 2·cos is monotone in it — raw-L2 codes would quantize
      // magnitude the re-rank doesn't care about (measured: recall@5
      // 0.16 raw vs ≥0.4 normalized on sf0.001).
      .withColumn("edn", transform(col("ed"), x => x / col("norm")))
    val dim = codewords(0).length
    val sub = dim / m
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => codewords.map { cw =>
        val nrm = math.sqrt(cw.foldLeft(0.0)((s, x) => s + x * x))
        cw.map(_ / nrm).slice(mi * sub, (mi + 1) * sub)
      })
    def subv(mi: Int): Column = slice(col("edn"), mi * sub + 1, sub)
    def l2(vm: Column, c: Array[Double]): Column = {
      val cn = c.foldLeft(0.0)((s, x) => s + x * x) // index-order, = list_inner_product
      dot(vm, vm) - lit(2.0) * dot(vm, typedLit(c.toSeq)) + lit(cn)
    }
    // encode: per-subspace argmin over the codebook (struct min: d, then k)
    val coded = e.select(col("vec_id").as("n_id") +:
      (0 until m).map(mi => array_min(array(books(mi).zipWithIndex.map {
        case (c, ki) => struct(l2(subv(mi), c).as("d"), lit(ki).as("k"))
      }: _*)).getField("k").as(s"code$mi")): _*)
    // queries: per-subspace distance table to all K codewords, as arrays
    val q = e.filter(queryPred).select(col("vec_id").as("q_id") +:
      (0 until m).map(mi =>
        array(books(mi).map(c => l2(subv(mi), c)): _*).as(s"dq$mi")): _*)
    val est = broadcast(q).crossJoin(coded)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (0 until m).map(mi => element_at(col(s"dq$mi"), col(s"code$mi") + 1))
          .reduce(_ + _).as("est"))
    val routed = est.withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("est"), asc("n_id"))).cast("long"))
      .filter(col("re") <= cands)
      .select("q_id", "n_id")
    val scored = routed
      .join(e.select(col("vec_id").as("q_id"), col("ed").as("qe"),
        col("norm").as("qn")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("ed").as("ne"),
        col("norm").as("nn")), "n_id")
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** The COMPOSED production index: IVF coarse routing × PQ compressed
    * distance — FAISS's IVFPQ, the shape the README's ANN design stance
    * names as the batch-retrieval stack. [[ivfProbe]] contributes the
    * routing leg (each query's ADC scan touches only its nprobe lists —
    * nprobe/nlist of the corpus instead of all of it), [[pqTopK]] the
    * compression leg (the scanned index rows are m one-byte codes, 64×
    * smaller than raw vectors); the exact re-rank touches full vectors
    * for `cands` rows per query only. At 100 TB this composition is the
    * difference between streaming 8 bytes×n/nlist×nprobe and streaming
    * 512 bytes×n per query batch.
    *
    * Determinism: the SAME stride-seeded 0-Lloyd rows serve as coarse
    * centroids AND as PQ codebook source (both already individually
    * hash-gated via sim_ann_ivf_seeded / sim_ann_pq), so the full
    * composition — seeding, assignment, probing, encoding, ADC,
    * candidate restriction, both rank passes — is replicated by the
    * DuckDB oracle with the same tie-break pins.
    *
    * Measured recall@5 vs brute force on sf0.001: 0.36 composed vs 0.44
    * for the full-scan PQ leg — the 0.08 loss is the routing cost of
    * scanning nprobe/nlist = 1/4 of the corpus (SimilaritySpec pins
    * both the floor and the route containment). */
  def ivfPqTopK(emb: DataFrame, centroids: Array[Array[Double]],
      queryPred: Column, k: Int, nprobe: Int = 4, m: Int = 8,
      cands: Int = 32): DataFrame = {
    val books = pqBooks(centroids, m)
    ivfPqSearch(emb, codedFrame(emb, centroids, books, m),
      centroids, books, queryPred, k, nprobe, m, cands)
  }

  /** Per-subspace PQ codebooks derived from the (normalized) coarse
    * centroids — a pure function of the centroid table, shared by the
    * in-session and persisted index paths. */
  private def pqBooks(centroids: Array[Array[Double]],
      m: Int): Array[Array[Array[Double]]] = {
    val dim = centroids(0).length
    val sub = dim / m
    Array.tabulate(m)(mi => centroids.map { cw =>
      val nrm = math.sqrt(cw.foldLeft(0.0)((s, x) => s + x * x))
      cw.map(_ / nrm).slice(mi * sub, (mi + 1) * sub)
    })
  }

  private def pqL2(vm: Column, c: Array[Double]): Column = {
    val cn = c.foldLeft(0.0)((s, x) => s + x * x)
    dot(vm, vm) - lit(2.0) * dot(vm, typedLit(c.toSeq)) + lit(cn)
  }

  /** The corpus's coded rows (n_id, cluster, code0..code{m−1}) — the
    * distributed half of the IVF-PQ index. */
  private def codedFrame(emb: DataFrame, centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]], m: Int): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm")
      .withColumn("edn", transform(col("ed"), x => x / col("norm")))
    val sub = centroids(0).length / m
    def subv(mi: Int): Column = slice(col("edn"), mi * sub + 1, sub)
    e.withColumn("cluster",
        array_max(array(cosToCentroids(centroids): _*)).getField("k"))
      .select(Seq(col("vec_id").as("n_id"), col("cluster")) ++
        (0 until m).map(mi => array_min(array(books(mi).zipWithIndex.map {
          case (c, ki) => struct(pqL2(subv(mi), c).as("d"), lit(ki).as("k"))
        }: _*)).getField("k").as(s"code$mi")): _*)
  }

  /** The IVF-PQ search over a coded frame: probe routing → broadcast
    * ADC estimate join → candidate cut → exact re-rank fetching raw
    * vectors from the corpus by id. Shared verbatim by [[ivfPqTopK]]
    * (codes built in-plan) and [[ivfPqTopKFromIndex]] (codes scanned
    * from the persisted artifact), which is what makes the
    * fresh-session identity assert meaningful. */
  private def ivfPqSearch(emb: DataFrame, coded: DataFrame,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]],
      queryPred: Column, k: Int, nprobe: Int, m: Int,
      cands: Int): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm")
      .withColumn("edn", transform(col("ed"), x => x / col("norm")))
    val sub = centroids(0).length / m
    def subv(mi: Int): Column = slice(col("edn"), mi * sub + 1, sub)
    val probes = e.filter(queryPred)
      .withColumn("probe", explode(slice(reverse(array_sort(
        array(cosToCentroids(centroids): _*))), 1, nprobe)))
      .select(Seq(col("vec_id").as("q_id"),
        col("probe.k").as("cluster")) ++
        (0 until m).map(mi =>
          array(books(mi).map(c => pqL2(subv(mi), c)): _*).as(s"dq$mi")): _*)
    val est = broadcast(probes).join(coded, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (0 until m).map(mi =>
          element_at(col(s"dq$mi"), col(s"code$mi") + 1))
          .reduce(_ + _).as("est"))
    val routed = est.withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("est"), asc("n_id")))
        .cast("long"))
      .filter(col("re") <= cands)
      .select("q_id", "n_id")
    val scored = routed
      .join(e.select(col("vec_id").as("q_id"), col("ed").as("qe"),
        col("norm").as("qn")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("ed").as("ne"),
        col("norm").as("nn")), "n_id")
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** PERSIST the IVF-PQ index (VERDICT r8 "Next round" #3): coarse
    * centroids, per-subspace PQ codebooks, and the corpus's coded
    * vectors as three parquet tables under `dir` — the production
    * contract the session memos only simulate ("build the index once,
    * load it for months"). The codes table is the only corpus-sized
    * piece (one row per vector: cluster + m small codes ≈ bytes, not
    * the dim-sized float vector) and writes distributed; centroids and
    * books are model-sized. Raw vectors are NOT duplicated into the
    * artifact — the exact re-rank point-fetches them from the corpus
    * by id (FAISS's refine index stores them; at 100 TB that storage
    * call is made explicitly by the caller). */
  def writeIvfPqIndex(emb: DataFrame, centroids: Array[Array[Double]],
      dir: String, m: Int = 8, writeResiduals: Boolean = true): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // A REUSED artifact dir must present a COMPLETELY fresh index, not
    // just fresh base tables (ADVICE r13 #4): a stale gen-0 tombstones
    // dir would anti-join-suppress new rows with matching vec_ids and
    // its stamped markers would no-op redelivered batch ids; stale
    // codes-v*/tombstones-v*/centroids-v*/books-v* generations would
    // shadow the rewrite the moment anything bumps the generation; a
    // stale residual_books from a LARGER previous corpus would pass
    // ivfPqResidualTopKFromIndex's presence require and silently mix
    // corpora. Sweep them all BEFORE writing, so a crash mid-write
    // can only leave a fresh-or-absent artifact, never a mixed one.
    {
      val root = new org.apache.hadoop.fs.Path(dir)
      val sfs = root.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // the pointer files sweep FIRST (ADVICE r14 #2): deleting them
      // only after the codes write left a window — crash after this
      // sweep, before the end-of-function delete — where a stale
      // pointer named a generation dir the sweep just removed, and
      // readers resolved a nonexistent path. With the pointer gone
      // up front, every crash point resolves generation 0: either the
      // old `codes` dir (intact until the final overwrite) or the
      // fresh one.
      if (sfs.exists(root)) sfs.listStatus(root).map(_.getPath).filter { p =>
        val n = p.getName
        n == "tombstones" || n == "residual_books" ||
          n == GenPointer || n == s"$GenPointer.old" ||
          n == s"$GenPointer.new" ||
          n.startsWith("codes-v") || n.startsWith("tombstones-v") ||
          n.startsWith("centroids-v") || n.startsWith("books-v")
      }.foreach(sfs.delete(_, true))
    }
    val books = pqBooks(centroids, m)
    centroids.zipWithIndex
      .map { case (c, k) => (k, c.toSeq) }.toSeq
      .toDF("k", "c").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    (for {
      mi <- 0 until m
      (cw, ki) <- books(mi).zipWithIndex
    } yield (mi, ki, cw.toSeq)).toDF("mi", "ki", "cw").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/books")
    // the RESIDUAL codebooks too (the model half of true IVFPQ), so
    // one artifact serves both composition variants; skipped when the
    // corpus is too small for the second-stride seed rule (one count,
    // one predicate definition — shared with residualCodebooks), or
    // when the caller only needs the plain-codes contract
    // (writeResiduals = false — the append gate's base build, which
    // must not leave base-corpus residual books beside full-corpus
    // codes; ivfPqResidualTopKFromIndex then fails its friendly
    // require instead of silently mixing corpora).
    // count only when the residual path can consume it — with
    // writeResiduals = false the count would be a wasted corpus scan
    if (writeResiduals) {
      val n = emb.count()
      if (canResidual(n, centroids.length)) {
        val rbooks = residualCodebooksN(emb, centroids, m, n)
        (for {
          mi <- 0 until m
          (cw, ki) <- rbooks(mi).zipWithIndex
        } yield (mi, ki, cw.toSeq)).toDF("mi", "ki", "cw").repartition(1)
          .write.mode("overwrite").parquet(s"$dir/residual_books")
      }
    }
    codedFrame(emb, centroids, books, m)
      .write.mode("overwrite").parquet(s"$dir/codes")
    // stale pointer files were swept UP FRONT with the generation dirs
    // (ADVICE r14 #2) — a reused artifact dir restarts at generation 0
    // from the first moment of the rewrite, so no crash point can
    // leave a pointer naming a swept generation.
    // Creation STAMPS generation 0 explicitly (r16, closing ADVICE
    // r15 #1 without breaking crash-heal): with the pointer present
    // from birth, "no pointer" is never a healthy state for an
    // engine-written index — a compaction that crashes before its
    // FIRST swap (codes-v1 fully written, pointer untouched) still
    // resolves via this stamp, while a permanently LOST pointer
    // beside v-generation data is unambiguous corruption and
    // [[currentGenName]] throws instead of guessing between gen 0's
    // grace copy and the v-generation. Legacy dirs written before the
    // stamp still take the no-pointer fallback when no v-generation
    // holds data. Crash points here: before the stamp → the sweep
    // already removed every pointer and v-gen, so the fallback
    // resolves the fresh gen 0; after → the stamp names it.
    writeGenPointer(new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration), dir, "codes")
  }

  // ------------------------------------------------------------------
  // GENERATION-POINTER index layout (VERDICT r12 "Next round" #3 —
  // reader-transparent compaction). The codes table lives in a
  // GENERATION directory: `codes` (generation 0, what writeIvfPqIndex
  // creates) or `codes-v<N>`; the current generation is named by the
  // single-line pointer file `codes_gen` (absent = generation 0).
  // Tombstones are PER GENERATION (`tombstones` / `tombstones-v<N>`),
  // so a reader that resolved generation N sees a CONSISTENT
  // (codes, tombstones) pair even while a compaction retires them.
  // Compaction writes generation N+1 beside N, atomically swaps the
  // pointer, and GC's generations OLDER than N — N itself stays one
  // cycle as reader grace, so a query that resolved mid-compaction
  // finishes on intact files. This retires the r10–r12 QUIESCE
  // requirement: between no two operations does the current
  // generation's codes dir not exist.
  // ------------------------------------------------------------------
  private val GenPointer = "codes_gen"

  private[graft] def genCodesName(v: Int): String =
    if (v == 0) "codes" else s"codes-v$v"
  private[graft] def genTombName(v: Int): String =
    if (v == 0) "tombstones" else s"tombstones-v$v"
  private[graft] def genVersion(name: String): Int =
    if (name == "codes") 0 else name.stripPrefix("codes-v").toInt

  private def fsOf(spark: SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the current generation's codes dir NAME. Pointer absent →
    * generation 0 (`codes`). [[writeGenPointer]] swaps with a single
    * overwriting rename — but an overwrite rename is NOT atomic on
    * every FS (AbstractFileSystem's default renameInternal deletes dst
    * then renames, so the local FS has a real delete→link window;
    * ADVICE r14 #1), so "pointer absent" is ambiguous: it either never
    * existed (plain generation 0, or a crash before the FIRST swap) or
    * transiently vanished mid-overwrite. The two are split by the
    * codes-v* generation dirs: an overwrite window only opens during a
    * swap, and a swap means a v-generation exists — so with NO
    * codes-v* dirs, gen 0 is the only possible answer and resolution
    * is immediate. WITH v-dirs present the read retries with backoff
    * (25→200 ms, ~1.3 s total — the window is two metadata ops) and,
    * if the pointer never resolves, falls back to gen 0 only when the
    * gen-0 dir holds data AND no codes-v* generation does (a LEGACY
    * pre-stamp dir where the pointer was never written and `codes` is
    * the sole data — since r16 [[writeIvfPqIndex]] stamps generation
    * 0 at creation, so for engine-written indexes every healthy and
    * every crash state resolves via a pointer file, and a lost
    * pointer beside v-generation data — indistinguishable from the
    * post-compaction grace state — does NOT qualify for the
    * fallback); otherwise it THROWS rather than silently resolving a stale or
    * GC'd generation. A `codes_gen.old` park state left by a PRE-r14
    * mid-swap crash still self-heals by READING the parked file (never
    * renaming — a reader-side rename raced the writer's own, ADVICE
    * r13 #2). */
  private[graft] def currentGenName(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val ptr = new Path(s"$dir/$GenPointer")
    val old = new Path(s"$dir/$GenPointer.old")
    def readPtr(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    def tryOnce(p: Path): Option[String] =
      if (!fs.exists(p)) None
      else try Some(readPtr(p)) catch {
        case _: java.io.FileNotFoundException => None // mid-overwrite
      }
    def resolve(): Option[String] = tryOnce(ptr).orElse(tryOnce(old))
    def anyVGen(): Boolean = {
      val root = new Path(dir)
      fs.exists(root) && fs.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("codes-v"))
    }
    var got = resolve()
    var attempt = 0
    while (got.isEmpty && attempt < 6) {
      if (!anyVGen()) return "codes" // no swap ever happened here
      Thread.sleep(25L << math.min(attempt, 3))
      attempt += 1
      got = resolve()
    }
    got.getOrElse {
      // The gen-0 fallback is legitimate ONLY for the crash-before-
      // first-swap state: pointer never written, `codes` holds the
      // sole data. After exactly one compaction the gen-0 dir is STILL
      // present as reader grace (GC runs only on the NEXT compaction),
      // so "gen 0 holds data" alone would silently resolve a stale
      // generation when the pointer is permanently lost — additionally
      // require that no codes-v* dir holds data (ADVICE r15 #1).
      val root = new Path(dir)
      val vGenHoldsData = fs.exists(root) && fs.listStatus(root)
        .exists(s => s.isDirectory &&
          s.getPath.getName.startsWith("codes-v") &&
          hasDataFiles(fs, s.getPath))
      if (!vGenHoldsData && hasDataFiles(fs, new Path(s"$dir/codes")))
        "codes"
      else throw new IllegalStateException(
        s"$dir/$GenPointer unresolvable: codes-v* generations exist " +
          "but the pointer never resolved — refusing to guess between " +
          "gen 0's grace copy and a v-generation holding data")
    }
  }

  /** The current generation's codes / tombstones paths — what every
    * reader consumes and what specs should read instead of a literal
    * `$dir/codes`. */
  private[graft] def currentCodesPath(spark: SparkSession,
      dir: String): String =
    s"$dir/${currentGenName(fsOf(spark, dir), dir)}"
  private[graft] def currentTombstonesPath(spark: SparkSession,
      dir: String): String = {
    val fs = fsOf(spark, dir)
    s"$dir/${genTombName(genVersion(currentGenName(fs, dir)))}"
  }

  /** Swap the generation pointer ATOMICALLY for a rename-based
    * filesystem: write `codes_gen.new`, then rename it DIRECTLY over
    * the live pointer with an overwrite-capable rename
    * (`FileContext.rename(…, Options.Rename.OVERWRITE)` — POSIX
    * rename(2) semantics on the local FS, the NN-atomic overwrite
    * rename on HDFS). The r12 park-then-swap protocol left a window
    * with NO pointer file, where a reader's exists→open raced the
    * writer and the reader's self-heal rename could collide with the
    * writer's own rename (ADVICE r13 #2) — with a single overwriting
    * rename the pointer path is continuously resolvable and there is
    * nothing to heal. Crash points: before the rename → old pointer
    * live (`.new` swept by the next swap's create-overwrite); after →
    * new pointer live. The legacy `.old` park state from a pre-r14
    * crash still self-heals in [[currentGenName]]. */
  private def writeGenPointer(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, gen: String): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    val ptr = new Path(s"$dir/$GenPointer")
    val nw = new Path(s"$dir/$GenPointer.new")
    val old = new Path(s"$dir/$GenPointer.old")
    val out = fs.create(nw, true)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    // qualify through the FileSystem first: `dir` may be a bare local
    // path whose URI has no scheme for FileContext to resolve
    val qPtr = fs.makeQualified(ptr)
    val fc = FileContext.getFileContext(qPtr.toUri, fs.getConf)
    fc.rename(fs.makeQualified(nw), qPtr, Options.Rename.OVERWRITE)
    // sweep a legacy parked pointer from a pre-r14 mid-swap crash so
    // it can never shadow a future self-heal
    fs.delete(old, false)
  }

  /** Whether `p` holds at least one parquet DATA file (underscore /
    * dot files are reader-invisible: markers, _SUCCESS). */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Model dirs are generation-versioned too (r13 — [[rebuildIvfPqIndex]]
    * retrains the model as part of a generation bump, so model and
    * codes swap TOGETHER): `centroids` / `books` are the base (version
    * 0) model; a rebuild at generation k writes `centroids-v<k>` /
    * `books-v<k>`. A generation's model is the HIGHEST versioned model
    * ≤ its own version (compaction bumps the codes generation without
    * touching the model, so the model version trails the codes
    * version). */
  private[graft] def genCentroidsName(v: Int): String =
    if (v == 0) "centroids" else s"centroids-v$v"
  private[graft] def genBooksName(v: Int): String =
    if (v == 0) "books" else s"books-v$v"

  /** The model version a codes generation `v` resolves to: the highest
    * k ≤ v with `centroids-v<k>` present, else 0 (the base model). */
  private[graft] def modelVersionFor(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Int): Int = {
    var k = v
    while (k >= 1) {
      if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/${genCentroidsName(k)}"))) return k
      k -= 1
    }
    0
  }

  /** GC everything OLDER than the retained grace generation `keep`:
    * codes + tombstones generations below it, and VERSIONED model dirs
    * below the model version `keep` itself resolves to (the base
    * `centroids`/`books` dirs are never deleted — they are version 0
    * by definition). Shared by compaction and rebuild. */
  private def gcOldGenerations(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, keep: Int): Unit = {
    import org.apache.hadoop.fs.Path
    for (g <- 0 until keep) {
      fs.delete(new Path(s"$dir/${genCodesName(g)}"), true)
      fs.delete(new Path(s"$dir/${genTombName(g)}"), true)
    }
    val mKeep = modelVersionFor(fs, dir, keep)
    for (k <- 1 until mKeep) {
      fs.delete(new Path(s"$dir/${genCentroidsName(k)}"), true)
      fs.delete(new Path(s"$dir/${genBooksName(k)}"), true)
    }
  }

  /** Answer TRUE-residual IVF-PQ top-k with the MODEL halves (coarse
    * centroids + residual codebooks) loaded from a persisted artifact
    * — the fresh-session contract for the residual composition. The
    * residual CODES are per-(query, probed-list) artifacts built
    * in-plan by [[ivfPqResidualTopK]] (corpus-code persistence is
    * demonstrated by the plain path's `codes` table). */
  def ivfPqResidualTopKFromIndex(spark: SparkSession, dir: String,
      emb: DataFrame, queryPred: Column, k: Int, nprobe: Int = 4,
      m: Int = 8, cands: Int = 32): DataFrame = {
    // Hadoop FileSystem, not java.io.File (ADVICE r9 #2): the artifact
    // dir may live on HDFS/S3 — anywhere spark.read.parquet can reach.
    val rbPath = new org.apache.hadoop.fs.Path(s"$dir/residual_books")
    val rbFs = rbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(rbFs.exists(rbPath),
      s"no residual_books in index artifact $dir — the corpus was too " +
        "small for the second-stride seed rule at write time")
    val centroids = spark.read.parquet(s"$dir/centroids").orderBy("k")
      .collect().map(_.getSeq[Double](1).toArray)
    val rbRows = spark.read.parquet(s"$dir/residual_books").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    // codeword count per subspace comes from the ARTIFACT (seeds can
    // be fewer than nlist on a non-dense vec_id space), not assumed
    val rbooks = Array.tabulate(m)(mi =>
      rbRows.keys.filter(_._1 == mi).map(_._2).toArray.sorted
        .map(ki => rbRows((mi, ki))))
    ivfPqResidualTopK(emb, centroids, queryPred, k, nprobe, m, cands,
      booksOpt = Some(rbooks))
  }

  /** Answer IVF-PQ top-k FROM a persisted index: centroids/codebooks
    * load as model-sized driver arrays, the coded corpus stays a
    * distributed parquet scan, and only the exact re-rank touches raw
    * vectors (fetched by id from the live corpus table). Bit-identical
    * to the in-session [[ivfPqTopK]] — parquet round-trips doubles
    * exactly and the search body is the shared [[ivfPqSearch]] — which
    * SimilaritySpec asserts from a FRESH session. */
  def ivfPqTopKFromIndex(spark: SparkSession, dir: String,
      emb: DataFrame, queryPred: Column, k: Int, nprobe: Int = 4,
      m: Int = 8, cands: Int = 32): DataFrame = {
    // ONE pointer read resolves the generation for BOTH halves — model
    // and codes are guaranteed consistent even if a rebuild swaps the
    // pointer between this line and the scan (r13: the model is
    // generation-versioned too)
    val gen = currentGenName(fsOf(spark, dir), dir)
    val (centroids, books) = loadIndexModel(spark, dir, m, gen)
    ivfPqSearch(emb, liveCodesFor(spark, dir, gen),
      centroids, books, queryPred, k, nprobe, m, cands)
  }

  /** TOMBSTONE vectors in the persisted artifact (VERDICT r10 "Next
    * round" #3 — FAISS `remove_ids` semantics, the inverse of
    * [[appendToIvfPqIndex]]): the ids land in the CURRENT generation's
    * tombstones parquet table beside its codes (an append — nothing
    * corpus-sized moves), the query path anti-joins them out of every
    * answer, and the next [[compactIvfPqIndexCodes]] physically drops
    * their codes and starts the new generation tombstone-free. The
    * production triggers — GDPR takedowns, dedup-driven retractions —
    * arrive as id lists, which is exactly the input here.
    *
    * ORDERING CONTRACT (r13, delete-then-ingest-same-id): a tombstone
    * suppresses EVERY code row carrying its vec_id — including rows
    * ingested AFTER the delete — until a compaction folds the
    * tombstones away. To genuinely re-add a deleted id, ingest it
    * after the next compaction (StreamsSpec pins exactly this). */
  def deleteFromIvfPqIndex(spark: SparkSession, dir: String,
      ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(currentTombstonesPath(spark, dir))

  /** The artifact's LIVE codes: the CURRENT generation's codes table
    * minus its generation's tombstoned ids — what every reader of the
    * index consumes. No tombstone data files (the common case) reads
    * the codes scan unchanged; with some, the anti-join ships only the
    * (small) id list. The (codes, tombstones) pair resolves from ONE
    * pointer read, so the reader's view is a consistent generation
    * even while a compaction retires it. */
  private def liveCodes(spark: SparkSession, dir: String): DataFrame =
    liveCodesFor(spark, dir, currentGenName(fsOf(spark, dir), dir))

  private def liveCodesFor(spark: SparkSession, dir: String,
      gen: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val codes = spark.read.parquet(s"$dir/$gen")
    val tPath = new org.apache.hadoop.fs.Path(
      s"$dir/${genTombName(genVersion(gen))}")
    if (hasDataFiles(fs, tPath))
      codes.join(spark.read.parquet(tPath.toString)
          .select(col("vec_id").as("n_id")).distinct(),
        Seq("n_id"), "left_anti")
    else codes
  }

  /** The artifact's MODEL half (coarse centroids + plain PQ codebooks)
    * as driver arrays — shared by the query path and the incremental
    * append path, so both consume the identical frozen model. The
    * model resolves PER GENERATION (`gen` defaults to the current
    * pointer): the highest versioned model at or below the codes
    * generation — see [[modelVersionFor]]. */
  private def loadIndexModel(spark: SparkSession, dir: String,
      m: Int, gen: String = null):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val fs = fsOf(spark, dir)
    val g = if (gen == null) currentGenName(fs, dir) else gen
    val mv = modelVersionFor(fs, dir, genVersion(g))
    val centroids = spark.read
      .parquet(s"$dir/${genCentroidsName(mv)}").orderBy("k")
      .collect().map(_.getSeq[Double](1).toArray)
    val bookRows = spark.read.parquet(s"$dir/${genBooksName(mv)}")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val books = Array.tabulate(m)(mi =>
      Array.tabulate(centroids.length)(ki => bookRows((mi, ki))))
    (centroids, books)
  }

  /** INCREMENTAL index maintenance (VERDICT r9 "Next round" #3) — the
    * nightly-ingest form the dedup families already have: route ONLY
    * the new batch through the artifact's LOADED frozen model
    * (centroids + codebooks read back from parquet, never re-derived)
    * and append its coded rows to the codes table. FAISS's `add()`
    * contract: coding is per-row, so append-then-query is IDENTICAL to
    * rebuilding every code with the same model (SimilaritySpec asserts
    * it with a base-corpus-only model; the registered key shares the
    * full-rebuild sim_ann_ivfpq oracle verbatim). At 100 TB this is
    * the difference between coding the nightly batch and re-coding the
    * whole corpus: the batch scan is the only corpus-sized work, the
    * model rides the driver, and the parquet append adds files without
    * touching existing ones. */
  def appendToIvfPqIndex(spark: SparkSession, dir: String,
      newEmb: DataFrame, m: Int = 8): Unit = {
    val (centroids, books) = loadIndexModel(spark, dir, m)
    codedFrame(newEmb, centroids, books, m)
      .write.mode("append").parquet(currentCodesPath(spark, dir))
  }

  /** IDEMPOTENT batch-stamped append — the STREAMING ingest form of
    * [[appendToIvfPqIndex]] (r12): `foreachBatch` redelivers batches
    * after a crash (at-least-once), and a plain parquet append would
    * duplicate every redelivered code row in the index, so the
    * streaming sink needs appends keyed by the checkpoint's batchId.
    * Protocol (all names inside the codes dir, so the reader's
    * directory scan is unchanged — parquet readers ignore
    * underscore-prefixed files, the _SUCCESS convention):
    *
    *   1. marker `_ingest-<batchId>` present → the batch fully landed
    *      on a previous attempt → SKIP (returns false);
    *   2. sweep any `ingest-<batchId>-*` part files (a crash mid-move
    *      left a partial batch — without the marker it is garbage);
    *   3. code the batch through the frozen model into a staging dir;
    *   4. move each staged part file to
    *      `codes/ingest-<batchId>-<part>`;
    *   5. create the marker LAST, then drop staging.
    *
    * A crash anywhere before (5) makes the redelivery redo the batch
    * from clean state; after (5) it no-ops — effectively-once visible
    * effect on an at-least-once channel, the same marker-last ordering
    * discipline as [[deleteFromIvfPqIndex]]'s tombstones and the
    * compaction swap. Returns true iff this call ingested the batch.
    *
    * CONCURRENT-COMPACTION handshake (r13, ADVICE r12 #1): the batch
    * lands in the generation the call RESOLVED, which a concurrent
    * [[compactIvfPqIndexCodes]] may retire mid-flight. The two sides
    * run a store-then-load handshake: the ingest writes its marker and
    * THEN re-reads the pointer; the compactor swaps the pointer and
    * THEN re-lists markers. On a sequentially consistent store at
    * least one side observes the other — the ingest copies its own
    * batch forward into the new generation, or the compactor adopts
    * the straggler (both copy, destination-exists makes the overlap
    * idempotent), so a batch can no longer keep its marker while
    * losing its rows. Plain (non-stamped) writers get no handshake —
    * they keep the documented single-writer/quiesce contract. */
  def appendToIvfPqIndexIdempotent(spark: SparkSession, dir: String,
      newEmb: DataFrame, batchId: Long, m: Int = 8,
      onAfterMarker: () => Unit = () => ()): Boolean =
    // `onAfterMarker` is a TEST seam (package use only): it runs in
    // the exact window between this batch's marker landing and the
    // post-marker pointer re-check, so specs can inject a concurrent
    // rebuild/compaction at the worst possible moment.
    stampedIdempotentAppend(spark, dir, batchId, toTombstones = false,
      () => {
        val (centroids, books) = loadIndexModel(spark, dir, m)
        codedFrame(newEmb, centroids, books, m)
      }, onAfterMarker)

  /** The STREAMING takedown twin (VERDICT r12 "Next round" #5): an
    * at-least-once tombstone stream lands through the identical
    * batch-stamped protocol in the current generation's tombstones
    * dir — redelivery no-ops on the marker, crashes heal, the markers
    * ride compaction per generation, and queries exclude the ids the
    * moment the batch lands (the liveCodes anti-join reads the dir the
    * batch just joined). Same ordering contract as
    * [[deleteFromIvfPqIndex]]. Returns true iff this call landed the
    * batch. */
  def deleteFromIvfPqIndexIdempotent(spark: SparkSession, dir: String,
      ids: DataFrame, batchId: Long): Boolean =
    stampedIdempotentAppend(spark, dir, batchId, toTombstones = true,
      () => ids.select(col("vec_id")))

  /** Shared batch-stamped append (codes ingest / tombstone takedown):
    * marker short-circuit (with the ADVICE r12 #2 staging sweep),
    * partial-file sweep, staging write, per-file move under
    * `ingest-<batchId>-` names, marker LAST, then the post-marker
    * generation re-check that copies the batch forward if a compaction
    * swapped mid-flight (see [[appendToIvfPqIndexIdempotent]]). */
  private def stampedIdempotentAppend(spark: SparkSession, dir: String,
      batchId: Long, toTombstones: Boolean,
      frame: () => DataFrame,
      onAfterMarker: () => Unit = () => ()): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, dir)
    val stamp = f"ingest-$batchId%020d"
    def destFor(gen: String): Path = new Path(
      s"$dir/${if (toTombstones) genTombName(genVersion(gen)) else gen}")
    var gen = currentGenName(fs, dir)
    var dest = destFor(gen)
    val marker = new Path(dest, s"_$stamp")
    val staging = new Path(s"$dir/" +
      s"${if (toTombstones) "tomb" else "codes"}_staging_$batchId")
    if (fs.exists(marker)) {
      // Heal the one leak window (ADVICE r12 #2): a crash AFTER the
      // marker landed but BEFORE the staging delete below left the
      // staging dir orphaned — the short-circuit must sweep it, or
      // redelivery leaks it forever.
      if (fs.exists(staging)) fs.delete(staging, true)
      return false
    }
    if (fs.exists(dest))
      fs.listStatus(dest).map(_.getPath)
        .filter(_.getName.startsWith(s"$stamp-"))
        .foreach(fs.delete(_, false))
    if (fs.exists(staging)) fs.delete(staging, true)
    frame().write.mode("overwrite").parquet(staging.toString)
    if (!fs.exists(dest)) fs.mkdirs(dest)
    fs.listStatus(staging).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_"))
      .foreach { p =>
        require(fs.rename(p, new Path(dest, s"$stamp-${p.getName}")),
          s"ingest move failed for $p under $dir")
      }
    fs.create(marker, true).close()
    fs.delete(staging, true)
    onAfterMarker() // test seam: the exact post-marker race window
    // post-marker handshake: if the pointer moved while this batch was
    // landing, carry the batch forward until the resolved generation is
    // stable (bounded — compactions are rare; 8 swaps mid-batch means
    // something else is wrong). HOW it carries depends on what swapped:
    // a COMPACTION keeps the model, so the already-coded files copy
    // verbatim; a REBUILD retrained the model, so the old-generation
    // codes are in the WRONG code space — the batch must RECODE from
    // its raw frame against the new generation's model (the recursive
    // call re-resolves the generation AND reloads the model inside
    // `frame`). Tombstone batches are raw ids — model-agnostic, always
    // copyable.
    var cur = currentGenName(fs, dir)
    var guard = 0
    while (cur != gen && guard < 8) {
      val sameModel = toTombstones ||
        modelVersionFor(fs, dir, genVersion(cur)) ==
          modelVersionFor(fs, dir, genVersion(gen))
      if (sameModel) copyStamped(fs, destFor(gen), destFor(cur), stamp)
      else return {
        stampedIdempotentAppend(spark, dir, batchId, toTombstones, frame)
        true
      }
      gen = cur
      cur = currentGenName(fs, dir)
      guard += 1
    }
    // exhausting the guard with the pointer STILL moving means the
    // batch may not exist in the resolved current generation — a
    // silent true here would be exactly the lost-batch contract
    // violation the handshake exists to prevent (ADVICE r13 #3)
    if (cur != gen) throw new IllegalStateException(
      s"stamped batch $batchId under $dir could not be carried to a " +
        s"stable generation after $guard pointer swaps (last carried " +
        s"to $gen, pointer now at $cur) — compactions/rebuilds are " +
        "churning faster than the batch lands; the batch IS durable " +
        "in a retired generation, so redeliver it once the churn stops")
    true
  }

  /** Copy one stamped batch (its `<stamp>-*` part files, then its
    * `_<stamp>` marker LAST) from one generation dir into another —
    * the straggler-adoption half of the ingest/compaction handshake.
    * COPY, not move: the source generation stays intact for its stale
    * readers (GC retires it wholesale later), and destination-exists
    * checks make the compactor-side and ingest-side copies of the same
    * batch idempotent against each other. */
  private def copyStamped(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path,
      stamp: String): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(from)) return
    if (!fs.exists(to)) fs.mkdirs(to)
    fs.listStatus(from).map(_.getPath)
      .filter(_.getName.startsWith(s"$stamp-"))
      .foreach { p =>
        val d = new Path(to, p.getName)
        if (!fs.exists(d))
          org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, d, false,
            fs.getConf)
      }
    fs.create(new Path(to, s"_$stamp"), true).close()
  }

  /** COMPACT the append-maintained artifact's codes table (r10 — the
    * last step of the index lifecycle: build → nightly append →
    * periodic compact): every parquet append adds a file set, so a
    * month of nightly ingests leaves the query path opening dozens of
    * small files per scan. Rewrite the LIVE codes (tombstoned rows
    * physically dropped — FAISS remove_ids' reclamation half) into
    * `targetFiles` sized files as generation N+1 and atomically swap
    * the generation pointer — results must be IDENTICAL (the codes
    * rows are the index; their file layout is not), which is what
    * lets the registered key share the full-rebuild oracle verbatim.
    *
    * READER-TRANSPARENT (r13, VERDICT r12 "Next round" #3 — retires
    * the r10–r12 QUIESCE requirement): the old generation is never
    * renamed or touched; readers that resolved it mid-compaction
    * finish on intact files, new readers resolve the pointer to the
    * new generation, and the OLD generation is GC'd only on the NEXT
    * compaction (one full cycle of reader grace). Crash-before-swap
    * leaves generation N current and intact (the half-written N+1 is
    * swept on retry); crash mid-pointer-swap self-heals in
    * [[currentGenName]].
    *
    * STAMPED writers are handshake-safe (ADVICE r12 #1): the rewrite
    * reads ONLY non-stamped files plus stamped batches whose marker
    * was in the entry snapshot — a batch landing mid-rewrite is never
    * PARTIALLY included — and straggler batches (marker appeared
    * after the snapshot) are ADOPTED by copy before and after the
    * swap; the ingest side re-checks the pointer after its marker
    * lands and copies itself forward (see
    * [[appendToIvfPqIndexIdempotent]]), so between the two re-checks
    * at least one side observes the other. Tombstone batches get the
    * identical treatment: snapshot markers ride into the new
    * generation's tombstones dir WITHOUT rows (they are folded into
    * the rewrite), stragglers ride WITH rows (they are not). Plain
    * non-stamped appends/deletes remain single-writer: quiesce them
    * around compaction, as every writeIvfPqIndex overwrite already
    * assumes. At 100 TB, size `targetFiles` from the codes byte count
    * the way sink_compact_sized does.
    *
    * `onBeforeSwap` is a TEST seam (package-private use only): it runs
    * between the last pre-swap adoption pass and the pointer swap —
    * exactly the race window the handshake closes — so specs can
    * inject a concurrent stamped batch at the worst possible moment.
    */
  def compactIvfPqIndexCodes(spark: SparkSession, dir: String,
      targetFiles: Int = 1, onBeforeSwap: () => Unit = () => ()): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, dir)
    val gen = currentGenName(fs, dir)
    val v = genVersion(gen)
    val curCodes = new Path(s"$dir/$gen")
    val curTomb = new Path(s"$dir/${genTombName(v)}")
    def stampsIn(p: Path): Set[String] =
      if (!fs.exists(p)) Set.empty[String]
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("_ingest-")).toSet
    val snapCodes = stampsIn(curCodes)
    val snapTomb = stampsIn(curTomb)
    val newGen = genCodesName(v + 1)
    val newCodes = new Path(s"$dir/$newGen")
    val newTomb = new Path(s"$dir/${genTombName(v + 1)}")
    // a half-written target from a prior crashed run is superseded —
    // the pointer never moved, so nothing read it. That sweep MUST
    // include orphan MODEL dirs at the target version (r13 self-review):
    // a rebuild that crashed after writing centroids-v<N+1> but before
    // its swap leaves a half-model that this compaction's generation
    // bump would otherwise capture (modelVersionFor resolves the
    // highest versioned model ≤ the codes version — a model version is
    // only legitimately born WITH its codes generation, by rebuild).
    if (fs.exists(newCodes)) fs.delete(newCodes, true)
    if (fs.exists(newTomb)) fs.delete(newTomb, true)
    fs.delete(new Path(s"$dir/${genCentroidsName(v + 1)}"), true)
    fs.delete(new Path(s"$dir/${genBooksName(v + 1)}"), true)
    // The rewrite input is an EXPLICIT file list: non-stamped data
    // files plus stamped batches covered by the snapshot markers
    // (marker-last ⟹ marker present means ALL the batch's files are).
    // A directory scan here could catch a mid-landing batch's files
    // partially — adoption would then duplicate the caught part.
    val stampLen = "ingest-".length + 20
    def coveredFiles(p: Path, known: Set[String]): Seq[String] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath).filter { f =>
        val n = f.getName
        n.endsWith(".parquet") && !n.startsWith("_") && (
          !n.startsWith("ingest-") ||
            // names too short to carry a full stamp are not protocol
            // files — exclude rather than crash on garbage
            (n.length > stampLen &&
              known.contains("_" + n.substring(0, stampLen))))
      }.map(_.toString).toSeq
    val codeFiles = coveredFiles(curCodes, snapCodes)
    require(codeFiles.nonEmpty, s"no codes data files under $curCodes")
    val codesDf = spark.read.parquet(codeFiles: _*)
    val tombFiles = coveredFiles(curTomb, snapTomb)
    val live =
      if (tombFiles.isEmpty) codesDf
      else codesDf.join(spark.read.parquet(tombFiles: _*)
          .select(col("vec_id").as("n_id")).distinct(),
        Seq("n_id"), "left_anti")
    live.repartition(targetFiles)
      .write.mode("overwrite").parquet(newCodes.toString)
    // idempotence ledger rides per generation: snapshot markers as
    // empty files (their rows are folded into the rewrite)
    snapCodes.foreach(m => fs.create(new Path(newCodes, m), true).close())
    if (snapTomb.nonEmpty) {
      fs.mkdirs(newTomb)
      snapTomb.foreach(m => fs.create(new Path(newTomb, m), true).close())
    }
    // straggler adoption: stamped batches whose marker appeared after
    // the snapshot ride forward WITH their rows (they are not in the
    // rewrite) — before the swap, and again after it for the final
    // race window (the ingest side's post-marker re-check covers
    // whatever lands after this)
    var knownCodes = snapCodes
    var knownTomb = snapTomb
    def adopt(): Unit = {
      (stampsIn(curCodes) -- knownCodes).foreach { m =>
        copyStamped(fs, curCodes, newCodes, m.stripPrefix("_"))
        knownCodes += m
      }
      (stampsIn(curTomb) -- knownTomb).foreach { m =>
        copyStamped(fs, curTomb, newTomb, m.stripPrefix("_"))
        knownTomb += m
      }
    }
    adopt()
    onBeforeSwap()
    writeGenPointer(fs, dir, newGen)
    adopt()
    // GC generations OLDER than the just-retired one; generation N
    // itself stays a full cycle as reader grace (model dirs GC'd by
    // the same rule — see gcOldGenerations)
    gcOldGenerations(fs, dir, v)
    // legacy leftovers from the pre-generation (r10–r12) swap layout
    fs.delete(new Path(s"$dir/codes_pre_compact"), true)
    fs.delete(new Path(s"$dir/codes_compact_tmp"), true)
  }

  /** REBUILD the index with a RETRAINED model (r13 — the drift
    * response that completes the lifecycle: build → ingest → delete →
    * compact → REBUILD): re-derive the coarse centroids/codebooks from
    * the CURRENT corpus (`emb`, supplied by the caller exactly as
    * [[writeIvfPqIndex]] takes seed centroids) and recode the whole
    * corpus as generation N+1 — model and codes swap TOGETHER under
    * the one pointer, so a reader that resolved generation N keeps a
    * CONSISTENT (old model, old codes) pair and a reader after the
    * swap gets the new pair; there is no window where new codes meet
    * an old model or vice versa ([[loadIndexModel]] resolves the model
    * per generation).
    *
    * Semantics: the caller's `emb` DEFINES the new corpus (FAISS
    * "train + add from scratch"), minus the current generation's
    * tombstones (deletes survive a rebuild); the new generation starts
    * tombstone-free. The idempotence ledger carries forward WITHOUT
    * rows on both sides: a stamped batch whose marker the rebuild's
    * snapshot saw is SUPERSEDED — its content is whatever `emb` says
    * it is now, and the carried marker makes any redelivery (and the
    * ingest side's own post-marker re-check) a no-op.
    *
    * CONCURRENT stamped INGEST and rebuild: an old-generation ingest
    * batch holds codes in the OLD code space, so rebuild can never
    * adopt it by copy the way compaction does — wherever rebuild
    * observes a straggler marker it ABORTS and asks the caller to
    * retry. The observation is guaranteed by a Dekker pairing with
    * the ingest side (VERDICT r13 "What's wrong" #1 — the r13 form
    * checked only BEFORE the swap, so a marker landing between the
    * final check and the swap whose post-marker pointer re-read also
    * ran pre-swap was missed by BOTH sides and died with the retired
    * generation's GC): rebuild STORES the pointer then LOADS the
    * markers (the post-swap re-check below); ingest STORES its marker
    * then LOADS the pointer ([[appendToIvfPqIndexIdempotent]]'s
    * post-marker re-check, which RECODES against the new model when
    * it observes the swap). With both sides store-then-load, at least
    * one observes the other in every interleaving. A straggler seen
    * BEFORE the swap aborts with the pointer untouched and the new
    * generation deleted; one seen AFTER the swap rolls the pointer
    * BACK to the old generation (whose dirs GC has not touched — the
    * grace rule keeps them) and aborts, leaving the superseded
    * new-generation dirs in place as reader grace for the instant the
    * forward pointer was live (they are swept by any retry's entry
    * sweep, or by the next compaction's). Either way the batch is
    * never silent: its rows and marker sit in the generation the
    * pointer resolves to when the abort returns. If the ingest's own
    * re-check ALSO observed the swap and recoded, the recode lands in
    * the superseded dirs and its recursive re-land no-ops on the old
    * generation's marker — converging on the same durable batch.
    *
    * `onBeforeSwap` is the same test seam as compaction's;
    * `onAfterFinalCheck` runs between the final pre-swap check and
    * the pointer swap — the exact window the post-swap re-check
    * exists to cover. */
  def rebuildIvfPqIndex(spark: SparkSession, dir: String,
      emb: DataFrame, centroids: Array[Array[Double]], m: Int = 8,
      targetFiles: Int = 1,
      onBeforeSwap: () => Unit = () => (),
      onAfterFinalCheck: () => Unit = () => ()): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, dir)
    val gen = currentGenName(fs, dir)
    val v = genVersion(gen)
    val curCodes = new Path(s"$dir/$gen")
    val curTomb = new Path(s"$dir/${genTombName(v)}")
    def stampsIn(p: Path): Set[String] =
      if (!fs.exists(p)) Set.empty[String]
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("_ingest-")).toSet
    val snapCodes = stampsIn(curCodes)
    val snapTomb = stampsIn(curTomb)
    val newV = v + 1
    val newCodes = new Path(s"$dir/${genCodesName(newV)}")
    val newTomb = new Path(s"$dir/${genTombName(newV)}")
    val newCen = new Path(s"$dir/${genCentroidsName(newV)}")
    val newBooks = new Path(s"$dir/${genBooksName(newV)}")
    Seq(newCodes, newTomb, newCen, newBooks)
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
    // deletes survive the rebuild: the new corpus is emb MINUS the
    // current generation's live tombstones
    val live =
      if (hasDataFiles(fs, curTomb))
        emb.join(spark.read.parquet(curTomb.toString)
            .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      else emb
    // the retrained model, generation-versioned
    import spark.implicits._
    val books = pqBooks(centroids, m)
    centroids.zipWithIndex
      .map { case (c, k) => (k, c.toSeq) }.toSeq
      .toDF("k", "c").repartition(1)
      .write.mode("overwrite").parquet(newCen.toString)
    (for {
      mi <- 0 until m
      (cw, ki) <- books(mi).zipWithIndex
    } yield (mi, ki, cw.toSeq)).toDF("mi", "ki", "cw").repartition(1)
      .write.mode("overwrite").parquet(newBooks.toString)
    codedFrame(live, centroids, books, m).repartition(targetFiles)
      .write.mode("overwrite").parquet(newCodes.toString)
    // the idempotence ledger rides forward WITHOUT rows on both sides
    snapCodes.foreach(mk =>
      fs.create(new Path(newCodes, mk), true).close())
    if (snapTomb.nonEmpty) {
      fs.mkdirs(newTomb)
      snapTomb.foreach(mk =>
        fs.create(new Path(newTomb, mk), true).close())
    }
    // straggler markers cannot be adopted (wrong code space) — abort
    def stragglers(): Set[String] =
      (stampsIn(curCodes) -- snapCodes) ++ (stampsIn(curTomb) -- snapTomb)
    def abort(seen: Set[String], swapped: Boolean): Nothing = {
      if (!swapped)
        Seq(newCodes, newTomb, newCen, newBooks)
          .foreach(p => fs.delete(p, true))
      throw new IllegalStateException(
        s"stamped ingest (${seen.mkString(", ")}) ran concurrently " +
          s"with rebuildIvfPqIndex under $dir — the batch's codes are " +
          "in the old model's code space and cannot be adopted; " +
          "quiesce the ingest stream and retry (the index is " +
          s"resolving generation $gen, where the batch is durable)")
    }
    var seen = stragglers()
    if (seen.nonEmpty) abort(seen, swapped = false)
    onBeforeSwap()
    seen = stragglers()
    if (seen.nonEmpty) abort(seen, swapped = false)
    onAfterFinalCheck() // test seam: the exact check→swap race window
    writeGenPointer(fs, dir, genCodesName(newV))
    // POST-swap re-check (VERDICT r13 #1): the store(pointer) →
    // load(markers) half of the Dekker pairing. A marker whose ingest
    // re-read the pointer BEFORE the swap observed nothing and did not
    // recode — only this check can see it. Roll the pointer back to
    // the old generation (its dirs are intact — GC runs only after a
    // clean swap) and fail loudly; the superseded new-generation dirs
    // stay as grace for any reader that resolved the forward pointer
    // in the window, and are swept on retry / next compaction.
    seen = stragglers()
    if (seen.nonEmpty) {
      writeGenPointer(fs, dir, gen)
      abort(seen, swapped = true)
    }
    // a marker landing after this re-check is the ingest side's job:
    // its post-marker re-check sees the new pointer AND the
    // model-version change and recodes from its raw frame
    gcOldGenerations(fs, dir, v)
  }

  /** Index artifact written once per (session, sf dir) — billed to the
    * bench build pass like every model artifact; the steady-state run
    * pays the honest RELOAD cost (parquet scans of the artifact). */
  private val indexDirMemo = new SessionMemo[String, String]

  private def persistedIndexDir(s: SparkSession, d: String): String =
    indexDirMemo.inTempDir(s, d, "graft-annindex") { out =>
      writeIvfPqIndex(Tables.embeddings(s, d),
        trainedCentroids(s, d, 16, 0), out)
      out
    }

  /** The APPEND-MAINTAINED index memoized per (session, sf dir) — the
    * gate setup for sim_ann_index_append: the artifact is built from
    * the BASE corpus only (vec_id % 5 ≠ 0, the established split),
    * then the held-out batch (vec_id % 5 = 0) is routed through the
    * LOADED model and its codes appended. The frozen model is the
    * full-corpus seeded centroids so the key can share the
    * sim_ann_ivfpq full-rebuild oracle VERBATIM (the gate's point:
    * append must equal rebuild given the same model — FAISS add());
    * SimilaritySpec proves the same identity with a model trained on
    * the base corpus alone, the strict nightly-ingest setup. */
  private val appendIndexMemo = new SessionMemo[String, String]

  private def appendedIndexDir(s: SparkSession, d: String): String =
    appendIndexMemo.inTempDir(s, d, "graft-annappend") { out =>
      val emb = Tables.embeddings(s, d)
      writeIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
        trainedCentroids(s, d, 16, 0), out, writeResiduals = false)
      appendToIvfPqIndex(s, out, emb.filter(col("vec_id") % 5 === 0))
      out
    }

  /** The COMPACTED lifecycle artifact for sim_ann_index_compact: base
    * build (no residuals), TWO nightly appends (the held-out split in
    * halves, so the codes table really holds three file generations),
    * then one compaction — built once per (session, sf dir), queried
    * from the swapped-in sized file. Model = the full-corpus seeded
    * centroids so the key shares the full-rebuild oracle verbatim
    * (compaction must not change one row). */
  private val compactIndexMemo = new SessionMemo[String, String]

  private def compactedIndexDir(s: SparkSession, d: String): String =
    compactIndexMemo.inTempDir(s, d, "graft-anncompact") { out =>
      val emb = Tables.embeddings(s, d)
      writeIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
        trainedCentroids(s, d, 16, 0), out, writeResiduals = false)
      appendToIvfPqIndex(s, out, emb.filter(col("vec_id") % 10 === 0))
      appendToIvfPqIndex(s, out, emb.filter(col("vec_id") % 10 === 5))
      compactIvfPqIndexCodes(s, out)
      out
    }

  /** The REBUILT lifecycle artifact for sim_ann_index_rebuild (r13):
    * the index is first built on the BASE corpus with a model trained
    * on the base corpus ALONE (ivfCentroids over the filtered split —
    * genuinely different centroids, the drift starting point), then
    * [[rebuildIvfPqIndex]] retrains on the FULL corpus with the
    * standard full-corpus seeded centroids and recodes everything as
    * generation 1 — so the key can share the full-rebuild
    * sim_ann_ivfpq oracle VERBATIM: after a rebuild, the index must
    * answer exactly as an index built from scratch on the new corpus
    * with the new model. */
  private val rebuildIndexMemo = new SessionMemo[String, String]

  private def rebuiltIndexDir(s: SparkSession, d: String): String =
    rebuildIndexMemo.inTempDir(s, d, "graft-annrebuild") { out =>
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      // the drift starting point: a DIFFERENT model (8 coarse lists,
      // stride-seeded) — rebuild must genuinely retrain, not reuse
      writeIvfPqIndex(base, ivfCentroids(emb, 8, 0), out,
        writeResiduals = false)
      rebuildIvfPqIndex(s, out, emb, trainedCentroids(s, d, 16, 0))
      out
    }

  /** The TOMBSTONED lifecycle artifact for sim_ann_index_delete: full
    * build (full-corpus seeded model, no residuals), then the
    * deterministic takedown split vec_id % 7 = 3 tombstoned — built
    * once per (session, sf dir), queried with the tombstones still in
    * place (the anti-join path; SimilaritySpec additionally proves the
    * compacted form answers identically and physically drops the
    * rows). The oracle is the full-rebuild ivfpq SQL over the corpus
    * MINUS the deleted split with the model still derived from the
    * FULL corpus — exactly FAISS remove_ids: deletion never retrains
    * the model. */
  private val deleteIndexMemo = new SessionMemo[String, String]

  private[graft] val deletePred: Column = col("vec_id") % 7 === 3

  private def deletedIndexDir(s: SparkSession, d: String): String =
    deleteIndexMemo.inTempDir(s, d, "graft-anndelete") { out =>
      val emb = Tables.embeddings(s, d)
      writeIvfPqIndex(emb, trainedCentroids(s, d, 16, 0), out,
        writeResiduals = false)
      deleteFromIvfPqIndex(s, out, emb.filter(deletePred))
      out
    }

  /** Residual codebooks for [[ivfPqResidualTopK]] — the model half of
    * true IVFPQ: codewords are the RESIDUALS (unit vector − its
    * assigned unit centroid) of a SECOND stride-seeded row set
    * (`vec_id % stride == 1`, disjoint from the centroid seeds — the
    * centroid seeds' own residuals are ≈0 and would be degenerate
    * codewords). Model-sized driver artifact (16 rows), derived with
    * the same fold orders as the engine expressions (sequential
    * index-order sums = list_inner_product), so the DuckDB oracle
    * re-derives every codeword bit-identically with a SELECT. */
  /** Whether the second-stride seed rule is usable: stride >= 2 —
    * stride 1 (n <= 2*nlist) would make `% stride === 1` match NOTHING
    * (x % 1 is always 0): empty books, null codes. One definition,
    * shared by the require below and [[writeIvfPqIndex]]'s skip. */
  private[ops] def canResidual(n: Long, nlist: Int): Boolean =
    math.max(1L, n / nlist) >= 2

  def residualCodebooks(emb: DataFrame, centroids: Array[Array[Double]],
      m: Int = 8): Array[Array[Array[Double]]] =
    residualCodebooksN(emb, centroids, m, emb.count())

  private def residualCodebooksN(emb: DataFrame,
      centroids: Array[Array[Double]], m: Int,
      n: Long): Array[Array[Array[Double]]] = {
    val nlist = centroids.length
    val stride = math.max(1L, n / nlist)
    require(canResidual(n, nlist),
      s"residualCodebooks needs corpus size >= 2*nlist (n=$n, nlist=$nlist)")
    val seeds2: Array[Array[Double]] = emb
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("ed"))
      .filter(col("vec_id") % stride === 1).orderBy("vec_id").limit(nlist)
      .select("ed").collect().map(_.getSeq[Double](0).toArray)
    def sq(v: Array[Double]): Double = v.foldLeft(0.0)((s, x) => s + x * x)
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cNorms = centroids.map(c => math.sqrt(sq(c)))
    val cenN = centroids.map { c =>
      val nr = math.sqrt(sq(c)); c.map(_ / nr)
    }
    val dim = centroids(0).length
    val sub = dim / m
    val residuals = seeds2.map { v =>
      // assignment replicates cosToCentroids + array_max exactly:
      // max cosine, ties to the LARGER k (struct max on (c, k))
      val vn = math.sqrt(sq(v))
      var bestK = 0; var bestC = Double.NegativeInfinity
      centroids.indices.foreach { k =>
        val c = dotd(v, centroids(k)) / (vn * cNorms(k))
        if (c > bestC || (c == bestC && k > bestK)) { bestC = c; bestK = k }
      }
      val vu = v.map(_ / vn)
      Array.tabulate(dim)(i => vu(i) - cenN(bestK)(i))
    }
    Array.tabulate(m)(mi =>
      residuals.map(_.slice(mi * sub, (mi + 1) * sub)))
  }

  /** TRUE IVFPQ — [[ivfPqTopK]] upgraded with RESIDUAL encoding, which
    * is what FAISS's IVFPQ actually quantizes: after coarse assignment,
    * each vector's PQ codes describe `x − c(x)` (the small residual)
    * instead of x itself, so the 16-codeword budget covers a far
    * tighter distribution; the query recomputes its distance tables
    * PER PROBED LIST against its own residual `q − c(list)` — the
    * per-list table build is m·K·(dim/m) work per (query, probe),
    * model-sized. Scan budget is identical to the plain composition
    * (the probed lists' code rows); the recall difference at the same
    * budget is the measured value of residual encoding
    * (SimilaritySpec records both).
    *
    * Hash gate: centroid seeds, second-stride residual codebooks,
    * per-vector residuals, per-(query, list) tables, the ADC sum, and
    * both rank passes are all elementwise/fold-order-pinned SQL the
    * oracle replays (list_transform index arithmetic = zip_with). */
  def ivfPqResidualTopK(emb: DataFrame, centroids: Array[Array[Double]],
      queryPred: Column, k: Int, nprobe: Int = 4, m: Int = 8,
      cands: Int = 32,
      booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm")
      .withColumn("edn", transform(col("ed"), x => x / col("norm")))
    val dim = centroids(0).length
    val sub = dim / m
    val cenN = centroids.map { c =>
      val nr = math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x))
      c.map(_ / nr)
    }
    val cenLit = typedLit(cenN.map(_.toSeq).toSeq)
    val books = booksOpt.getOrElse(residualCodebooks(emb, centroids, m))
    def l2(vm: Column, c: Array[Double]): Column = {
      val cn = c.foldLeft(0.0)((s, x) => s + x * x)
      dot(vm, vm) - lit(2.0) * dot(vm, typedLit(c.toSeq)) + lit(cn)
    }
    val assigned = e.withColumn("cluster",
      array_max(array(cosToCentroids(centroids): _*)).getField("k"))
    val withRes = assigned.withColumn("res",
      zip_with(col("edn"), element_at(cenLit, col("cluster") + 1),
        (a, b) => a - b))
    def subv(src: String, mi: Int): Column =
      slice(col(src), mi * sub + 1, sub)
    val coded = withRes.select(
      Seq(col("vec_id").as("n_id"), col("cluster")) ++
        (0 until m).map(mi => array_min(array(books(mi).zipWithIndex.map {
          case (c, ki) => struct(l2(subv("res", mi), c).as("d"),
            lit(ki).as("k"))
        }: _*)).getField("k").as(s"code$mi")): _*)
    val probes = assigned.filter(queryPred)
      .withColumn("probe", explode(slice(reverse(array_sort(
        array(cosToCentroids(centroids): _*))), 1, nprobe)))
      .withColumn("cluster", col("probe.k"))
      .withColumn("rq",
        zip_with(col("edn"), element_at(cenLit, col("cluster") + 1),
          (a, b) => a - b))
      .select(Seq(col("vec_id").as("q_id"), col("cluster")) ++
        (0 until m).map(mi =>
          array(books(mi).map(c => l2(subv("rq", mi), c)): _*)
            .as(s"dq$mi")): _*)
    val est = broadcast(probes).join(coded, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (0 until m).map(mi =>
          element_at(col(s"dq$mi"), col(s"code$mi") + 1))
          .reduce(_ + _).as("est"))
    val routed = est.withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("est"), asc("n_id")))
        .cast("long"))
      .filter(col("re") <= cands)
      .select("q_id", "n_id")
    val scored = routed
      .join(e.select(col("vec_id").as("q_id"), col("ed").as("qe"),
        col("norm").as("qn")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("ed").as("ne"),
        col("norm").as("nn")), "n_id")
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** Exact near-dup pair counts per label, hot-key-safe.
    *
    * Semantics: count label-mate pairs with cosine above `threshold` —
    * EXACT, so the result hash-matches the all-pairs oracle at any SF.
    *
    * Why not LSH candidate routing here: the threshold regime is weak
    * similarity (0.35 ⇒ θ≈66°, vs 90° for random pairs). Sign-LSH
    * per-table collision is (1-θ/π)^bits — 0.63^bits for true pairs vs
    * 0.5^bits for random ones: too little separation to prune without
    * losing most true pairs (measured on this data: ~0.4 recall at
    * bits=6/8 tables ⇒ a hash MISmatch and silently wrong counts). LSH /
    * MinHash candidate routing is the right move at real near-dup
    * thresholds (≥0.9) — that path exists as [[lshTopK]] and
    * [[Dedup.minhashCandidates]].
    *
    * The scale problem with a plain label self-join is not the pair count
    * (the semantics require it) but that ONE shuffle key carries a whole
    * label: a hot label ⇒ one reducer does |label|² work. Blocked
    * self-join instead: each side is sliced into `blocks` deterministic
    * blocks (vec_id % blocks) and replicated `blocks` times, so every
    * pair meets at exactly one (label, blockA, blockB) key and the hot
    * label's quadratic work spreads over blocks² reducers. Classic
    * blocked-cartesian decomposition: shuffle volume ×blocks, max
    * per-reducer work ÷blocks² — the trade you want at 100 TB. */
  def nearDupPairCounts(emb: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"),
        toDoubleArr(col("embedding")).as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    val a = e.select(col("vec_id").as("a_id"), col("label"),
        col("emb").as("ae"), col("norm").as("an"))
      .withColumn("ba", pmod(col("a_id"), lit(blocks)).cast("int"))
      .withColumn("bb", explode(sequence(lit(0), lit(blocks - 1))))
    val b = e.select(col("vec_id").as("b_id"), col("label"),
        col("emb").as("be"), col("norm").as("bn"))
      .withColumn("bb", pmod(col("b_id"), lit(blocks)).cast("int"))
      .withColumn("ba", explode(sequence(lit(0), lit(blocks - 1))))
    // threshold 0.35 in the registered query is calibrated to the
    // synthetic embeddings (max within-label cosine ~0.47) so the result
    // is non-degenerate at every SF.
    a.join(b, Seq("label", "ba", "bb")).filter(col("a_id") < col("b_id"))
      .filter(dot(col("ae"), col("be")) / (col("an") * col("bn")) > threshold)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("label")
  }

  /** Whole-corpus LSH candidate pairs for dedup: every vector is bucketed
    * into `tables` independent sign-LSH buckets (map-only); pairs sharing
    * any (table, bucket) are candidates. Unlike [[lshCandidates]] (few
    * queries → broadcast), BOTH sides here are the corpus, so this is a
    * self-equi-join keyed by (table, bucket) — ids only, payloads never
    * enter the join or the distinct. At 100 TB the shuffle is keyed by
    * bucket and candidate mass is n²·P(collision), not n² (SCALE_r04
    * quantifies the measured fraction). */
  def lshDedupCandidates(emb: DataFrame, bits: Int = 6,
      tables: Int = 8): DataFrame = {
    val dim = 64
    val embD = emb.select(col("vec_id"), toDoubleArr(col("embedding")).as("ed"))
    val bucketCols = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(col("ed"), dim, bits, t).as("bucket"))): _*)
    val bucketed = embD.select(col("vec_id"), explode(bucketCols).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = bucketed.select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("b_id"), col("tbl"), col("bucket"))
    a.join(b, Seq("tbl", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Candidate-ROUTED embedding dedup (VERDICT r3 #2) — the embedding
    * analogue of [[graft.ops.Dedup.nearDupSurvivors]]: LSH candidates →
    * exact-cosine verify on candidates ONLY → drop the higher vec_id of
    * each verified pair. This is the shape a 100 TB corpus actually runs:
    * the exact blocked-cartesian ([[embeddingDedupSurvivors]]) touches all
    * n² pairs by construction; this one touches n²·P(bucket collision).
    *
    * The price is recall: sign-LSH collision for a true pair at angle θ is
    * (1-θ/π)^bits per table. At production thresholds (≥0.9 cosine,
    * θ≤26°) that is ≳0.37 per table → ~97% over 8 tables; at this
    * corpus's weak-similarity regime (0.35 ⇒ θ≈66°) it is ~6% per table
    * → ~40% of close pairs routed. The registered key deliberately keeps
    * the corpus threshold so the result is non-degenerate AND the
    * recall trade is measurable against `dedup_embedding` (the exact
    * form) — SimilaritySpec asserts the containment both ways. The hash
    * gate does not depend on recall at all: the oracle replicates the
    * seeded buckets bit-identically (plane literals, see [[lshPlanes]]),
    * so Spark and DuckDB route — and drop — the SAME pairs.
    *
    * Bench provenance: the committed r7 artifact recorded 3.52 s for
    * this key inside the 228-query session; the r8 isolated min-of-7
    * (SPARK_GRAFT_BENCH_ONLY, the join_theta_range precedent) measures
    * 0.995 s with zero code change — within 1.14× of the r6-quiet
    * 0.87 s, confirming shared-session GC/broadcast pressure during the
    * 8-table bucketing explode, not a plan regression. */
  def embeddingDedupLshSurvivors(emb: DataFrame, threshold: Double,
      bits: Int = 6, tables: Int = 8): DataFrame = {
    val cands = lshDedupCandidates(emb, bits, tables)
    val a = withNorm(emb, "a_id", "ae", "an")
    val b = withNorm(emb, "b_id", "be", "bn")
    val dropped = cands.join(a, "a_id").join(b, "b_id")
      .filter(dot(col("ae"), col("be")) / (col("an") * col("bn")) > threshold)
      .select(col("b_id").as("vec_id")).distinct()
    emb.select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** RANGE (radius) search — the other fundamental vector-query type
    * next to top-k: ALL corpus vectors within `threshold` cosine of
    * each query, however many there are (top-k asks "the closest k";
    * range asks "everything this similar" — the dedup/recall-audit
    * query). Exact: broadcast the query block against the corpus scan,
    * one codegen'd dot per pair, emit qualifying pairs only — at 100 TB
    * the same LSH/IVF routes used by the dedup keys pre-filter the
    * scan; this registered form is the exact semantics those routes are
    * verified against. Output ordered (q_id, n_id); counts per query
    * vary by radius, which is the point. */
  def rangeSearch(emb: DataFrame, queryPred: Column,
      threshold: Double): DataFrame = {
    val q = broadcast(withNorm(emb.filter(queryPred), "q_id", "qe", "qn"))
    val c = withNorm(emb, "n_id", "ne", "nn")
    q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .filter(col("cos") > threshold)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "n_id")
  }

  /** INCREMENTAL embedding dedup — the vector analogue of
    * [[graft.ops.Dedup.incrementalSurvivors]], the nightly-ingest
    * operator: a new batch (vec_id % 5 = 0, the same deterministic
    * split as the text twin) is probed against the EXISTING corpus
    * through the shared LSH buckets, and ONLY cross-set candidates
    * (one new, one existing — never existing×existing) pay the exact
    * cosine verify; a new vector survives iff no existing vector sits
    * inside the threshold. At 100 TB the existing side's buckets are a
    * precomputed artifact the increment probes — the candidate join is
    * new-buckets ⋈ existing-buckets, so per-night work scales with the
    * increment, not the corpus. Hash-gated via the same seeded-plane
    * literals as dedup_embedding_lsh. */
  def embeddingIncrementalSurvivors(emb: DataFrame, threshold: Double,
      bits: Int = 6, tables: Int = 8): DataFrame = {
    val cross = lshDedupCandidates(emb, bits, tables)
      .filter((col("a_id") % 5 === 0) =!= (col("b_id") % 5 === 0))
    val a = withNorm(emb, "a_id", "ae", "an")
    val b = withNorm(emb, "b_id", "be", "bn")
    val droppedNew = cross.join(a, "a_id").join(b, "b_id")
      .filter(dot(col("ae"), col("be")) / (col("an") * col("bn")) > threshold)
      .select(when(col("a_id") % 5 === 0, col("a_id"))
        .otherwise(col("b_id")).as("vec_id"))
      .distinct()
    emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"))
      .join(droppedNew, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** IVF-cluster-routed embedding dedup — the coarse-quantizer analogue
    * of [[embeddingDedupLshSurvivors]]: every vector joins its
    * `memberships` nearest inverted lists (multi-assignment is the IVF
    * recall lever, exactly like nprobe on the query path), candidate
    * pairs are vectors sharing a list, and only candidates pay the exact
    * cosine verify before the keep-first drop. At 100 TB the candidate
    * join is an equi-join keyed by cluster id — data-adaptive routing
    * (trained lists follow the corpus distribution) where LSH buckets are
    * data-blind; candidate mass is Σ|list|² over lists instead of n².
    * Sizing rule: at FIXED nlist that mass is ≈ m²·n²/nlist — still
    * quadratic with a constant discount — so production deployments grow
    * nlist ∝ √n (per-list size then stays constant and candidate mass
    * grows linearly in n); SCALE_r05.md measures exactly this on the
    * synth-10× decade (nlist 16 vs 128).
    * With seeded (0-Lloyd) centroids the whole pipeline — seeding,
    * multi-assignment tie-breaks, candidate join, verify, drop — is
    * replicable in SQL, which is what hash-gates the registered key. */
  def ivfDedupCandidates(emb: DataFrame,
      centroids: Array[Array[Double]], memberships: Int = 2): DataFrame = {
    val e = withNorm(emb, "vec_id", "ed", "norm")
    val member = e.withColumn("m",
        explode(slice(reverse(array_sort(array(cosToCentroids(centroids): _*))),
          1, memberships)))
      .select(col("vec_id"), col("m.k").as("cluster"))
    val a = member.select(col("vec_id").as("a_id"), col("cluster"))
    val b = member.select(col("vec_id").as("b_id"), col("cluster"))
    a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  def embeddingDedupIvfSurvivors(emb: DataFrame, threshold: Double,
      centroids: Array[Array[Double]], memberships: Int = 2): DataFrame = {
    val cands = ivfDedupCandidates(emb, centroids, memberships)
    val ae = withNorm(emb, "a_id", "ae", "an")
    val be = withNorm(emb, "b_id", "be", "bn")
    val dropped = cands.join(ae, "a_id").join(be, "b_id")
      .filter(dot(col("ae"), col("be")) / (col("an") * col("bn")) > threshold)
      .select(col("b_id").as("vec_id")).distinct()
    emb.select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Trained centroids memoized per (session, dir, nlist, iters): IVF
    * training is part of the operator but amortized in any real
    * deployment (the model is built once, probed many times) — and the
    * bench reports build vs steady-state separately because of this. */
  private val centroidMemo =
    new SessionMemo[(String, Int, Int), Array[Array[Double]]]

  private def trainedCentroids(s: SparkSession, d: String, nlist: Int,
      iters: Int): Array[Array[Double]] =
    centroidMemo(s, (d, nlist, iters)) {
      ivfCentroids(Tables.embeddings(s, d), nlist, iters)
    }

  /** Residual codebooks memoized per (session, dir, nlist, m) — same
    * model-artifact contract as [[trainedCentroids]]: built once in the
    * bench build pass, reused by every timed run (the r8 ADVICE flagged
    * the un-memoized re-derivation inside the timed region). */
  private val booksMemo =
    new SessionMemo[(String, Int, Int), Array[Array[Array[Double]]]]

  private def trainedResidualBooks(s: SparkSession, d: String, nlist: Int,
      m: Int): Array[Array[Array[Double]]] =
    booksMemo(s, (d, nlist, m)) {
      residualCodebooks(Tables.embeddings(s, d),
        trainedCentroids(s, d, nlist, 0), m)
    }

  /** Embedding-cosine near-dup DROP (north star: "embedding-cosine
    * near-dup") — keep-first dedup over the WHOLE corpus: a vector is
    * dropped iff some lower-id vector is within `threshold` cosine.
    * Exact by spec (same low-threshold regime as [[nearDupPairCounts]],
    * where LSH routing loses recall — rationale there), so the quadratic
    * compare is decomposed as a blocked cartesian: each side split into
    * `blocks` deterministic id-blocks and replicated `blocks` times, so
    * every pair meets at exactly one (blockA, blockB) key and the work
    * spreads over blocks² reducers — no single reducer sees n²/k² of a
    * hot key. At real near-dup thresholds (≥0.9) swap the candidate
    * stage for [[lshCandidates]] and verify only candidates — that is
    * [[graft.ops.Dedup.nearDupSurvivors]]'s shape.
    *
    * Sizing `blocks`: the join key space is blocks² cells, so pick
    * blocks ≈ sqrt(desired reducer parallelism) — 8 (64 cells) for
    * local[32]; ≥64 (4096 cells) on a 1000-executor cluster. Shuffle
    * volume grows ×blocks (each side replicated), per-reducer work
    * shrinks ÷blocks² — the same trade as [[nearDupPairCounts]]. */
  /** All (a_id < b_id) pairs with cosine above `threshold`, via the
    * blocked cartesian — the shared edge generator for keep-first dedup
    * ([[embeddingDedupSurvivors]]) and cluster assignment
    * ([[embeddingClusters]]). */
  def embeddingThresholdPairs(emb: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    val e = emb.select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    val a = e.select(col("vec_id").as("a_id"), col("emb").as("ae"),
        col("norm").as("an"))
      .withColumn("ba", pmod(col("a_id"), lit(blocks)).cast("int"))
      .withColumn("bb", explode(sequence(lit(0), lit(blocks - 1))))
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("be"),
        col("norm").as("bn"))
      .withColumn("bb", pmod(col("b_id"), lit(blocks)).cast("int"))
      .withColumn("ba", explode(sequence(lit(0), lit(blocks - 1))))
    a.join(b, Seq("ba", "bb"))
      .filter(col("a_id") < col("b_id"))
      .filter(dot(col("ae"), col("be")) / (col("an") * col("bn")) > threshold)
      .select("a_id", "b_id")
  }

  def embeddingDedupSurvivors(emb: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    val dropped = embeddingThresholdPairs(emb, threshold, blocks)
      .select(col("b_id").as("vec_id")).distinct()
    emb.select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Semantic-dedup CLUSTERS: connected components over the
    * cosine-threshold graph — the grouping form of
    * [[embeddingDedupSurvivors]] (which keeps min-id per component's
    * EDGE-reachable drops; this names the whole component so a curator
    * can pick a canonical doc, attribute provenance, or cap cluster
    * contribution — the SemDeDup-style pass over an embedded corpus).
    * Edges are the same blocked-cartesian exact pairs as the keep-first
    * key (at scale: swap in [[lshDedupCandidates]]/[[ivfDedupCandidates]]
    * routing, identical downstream); labels propagate through
    * [[Dedup.ccLabels]] — the same one-job-per-round min-label loop the
    * shingle clustering gates. */
  def embeddingClusters(emb: DataFrame, threshold: Double = 0.35,
      blocks: Int = 8): DataFrame =
    Dedup.ccLabels(emb.select(col("vec_id").as("doc_id")),
        embeddingThresholdPairs(emb, threshold, blocks), checkpointEvery = 3)
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")

  /** Cluster labels memoized per (session, dir, threshold, blocks) — the
    * component labeling is a reusable corpus ARTIFACT, not a per-query
    * computation: SemDeDup-style pipelines compute clusters once and
    * then cluster-report, prune, and mix all consume the same labels
    * (three registered queries here). At 100 TB the labels are a
    * persisted table; in-session, localCheckpoint materializes them
    * once and truncates the CC loop's lineage so every consumer reads
    * the result, not the iteration. First computation lands in the
    * bench BUILD pass like the IVF-centroid and bucketed-table memos;
    * SimilaritySpec pins memo ≡ definitional [[embeddingClusters]]. */
  private val clusterMemo = new SessionMemo[(String, Double, Int), DataFrame]

  private[graft] def clusterLabels(s: SparkSession, d: String,
      threshold: Double = 0.35, blocks: Int = 8): DataFrame =
    clusterMemo(s, (d, threshold, blocks)) {
      embeddingClusters(Tables.embeddings(s, d), threshold, blocks)
        .localCheckpoint(true)
    }

  /** Symmetric int8 scalar-quantization quality report, per vector:
    * the compression step every billion-vector ANN index runs before
    * the IVF/LSH routing this file already gates (quantize to 1 byte
    * per dimension = 4× smaller lists, then re-rank survivors at full
    * precision). scale = 127/max|x|, q_i = round-half-up(x_i·scale)
    * (so q ∈ [-127,127] by construction — no clipping branch), and the
    * report carries the reconstruction error a re-ranker would see:
    * per-vector RMSE and max abs error against the dequantized grid.
    *
    * Work shape: pure per-row higher-order functions (transform /
    * aggregate / array_max) — zero shuffle, codegen-friendly, scan-
    * bounded at 100 TB. Determinism for the gate: float→double widening
    * is exact, ·, /, floor are IEEE-identical in both engines, and the
    * two order-insensitive maxes plus one fixed left-fold sum land
    * inside round(…, 6). Half-up via floor(x+0.5) rather than each
    * engine's round() so tie behavior is pinned by construction. */
  def quantizeInt8Report(emb: DataFrame): DataFrame = {
    // All array passes are native kernels or dot products — a per-row
    // scalar (scale) referenced inside a HOF lambda re-inlines its
    // array_max subtree PER ELEMENT (O(d²), interpreted, allocating;
    // measured 4.4 s for 2k×64 on the bench before this form). The
    // error sum expands algebraically to three dots:
    //   Σ(x − q/s)² = x·x − 2·(x·q)/s + (q·q)/s²
    // and max|err| is its own one-pass kernel. greatest(…, 0) guards
    // the sqrt against the identity landing at −1e−18 for exact
    // reconstructions.
    val xs = toDoubleArr(col("embedding"))
    val scale = lit(127.0) / array_max(transform(xs, x => abs(x)))
    val q8 = graft.functions.VectorOps.quantize_int8(xs)
    val sumSq = dot(col("xs"), col("xs")) -
      lit(2.0) * dot(col("xs"), col("q8")) / col("s") +
      dot(col("q8"), col("q8")) / (col("s") * col("s"))
    emb.select(col("vec_id"), xs.as("xs"), q8.as("q8"), scale.as("s"))
      .select(col("vec_id"),
        round(col("s"), 6).as("scale"),
        round(sqrt(greatest(sumSq, lit(0.0)) / size(col("xs"))), 6)
          .as("rmse"),
        round(graft.functions.VectorOps.quantize_err_max(col("xs")), 6)
          .as("max_err"))
      .orderBy("vec_id")
  }

  /** SQ8-routed top-k with exact re-rank — the production pairing of
    * [[quantizeInt8Report]]'s compression with the search itself: rank
    * ALL candidates by quantized cosine (int8 codes: 4× less memory
    * bandwidth than float32 on the scan that dominates ANN cost), keep
    * the top `rerank` per query, then re-score only those at full
    * precision for the final top `k`. At 100 TB the code arrays are
    * what lives in executor memory / the IVF lists; full-precision
    * vectors are fetched for the `rerank` survivors only.
    *
    * Gated exactly (not recall-bounded like sim_ann_lsh): quantized
    * dots are sums of small-integer products — exact in doubles, no
    * reassociation sensitivity — so the routed candidate set is
    * bit-identical on both engines, and the re-rank reuses sim_topk's
    * gated arithmetic. Scale factors cancel in the quantized cosine, so
    * the route needs only the codes and their norms. */
  def quantizedRerankTopK(emb: DataFrame, queryPred: Column, k: Int = 5,
      rerank: Int = 20): DataFrame = {
    val xs = toDoubleArr(col("embedding"))
    // native one-pass kernel (codegen'd); the composed
    // transform/array_max form is its executable spec, equality-pinned
    // in SimilaritySpec for nonzero vectors.
    val q8 = graft.functions.VectorOps.quantize_int8(xs)
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col("vec_id").as(s"${p}_id"), xs.as(s"${p}e"), q8.as(s"${p}q"))
        .withColumn(s"${p}qn", sqrt(dot(col(s"${p}q"), col(s"${p}q"))))
        .withColumn(s"${p}fn", sqrt(dot(col(s"${p}e"), col(s"${p}e"))))
    val q = broadcast(side(emb.filter(queryPred), "q"))
    val c = side(emb, "n")
    val routed = q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("qcos", dot(col("qq"), col("nq")) / (col("qqn") * col("nqn")))
      .withColumn("qrnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("qcos"), asc("n_id"))))
      .filter(col("qrnk") <= rerank)
    routed
      .withColumn("cos", dot(col("qe"), col("ne")) / (col("qfn") * col("nfn")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** SemDeDup's prune step: cap each semantic cluster's contribution at
    * `keep` representatives (min-id order — deterministic, and at scale
    * the natural slot for "keep the highest-quality member" by swapping
    * the window ordering). The per-cluster window is skew-bounded by
    * cluster size, which the threshold bounds — no global window. */
  def embeddingClusterPrune(emb: DataFrame, threshold: Double = 0.35,
      blocks: Int = 8, keep: Int = 2): DataFrame =
    embeddingClusterPruneFrom(embeddingClusters(emb, threshold, blocks), keep)

  /** The prune window over an already-materialized labeling (the memo
    * above or a persisted labels table) — the form the registered
    * queries run so the CC loop executes once per session, not once per
    * consumer. */
  def embeddingClusterPruneFrom(labels: DataFrame, keep: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    labels
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster").orderBy("vec_id")))
      .filter(col("rk") <= keep)
      .select(col("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_quantize_int8" -> ((s, d) =>
      quantizeInt8Report(Tables.embeddings(s, d))),
    // ≤2 representatives per cosine-component cluster (memoized labels).
    "dedup_embedding_prune" -> ((s, d) =>
      embeddingClusterPruneFrom(clusterLabels(s, d)).orderBy("vec_id")),
    "sim_ann_quantized" -> ((s, d) =>
      quantizedRerankTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    "sim_topk" -> ((s, d) =>
      bruteForceTopK(Tables.embeddings(s, d), col("vec_id") < 10, 5)
        .orderBy("q_id", "rnk")),
    // per-label mean vectors as per-dimension COLUMN aggregates — the
    // Lloyd-update pattern (ivfCentroids' training step) as a public
    // gated key: explode to (label, dim, v), map-side partial avg, never
    // a row-per-vector collect. 100 TB shape: shuffle carries
    // labels × dims partials, not vectors.
    "embed_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg(col("v")), 6).as("m"), count(lit(1)).as("n_vecs"))
        .orderBy("label", "dim")),
    // embedding-cosine keep-first dedup, hash-gated against the DuckDB
    // all-pairs form (identical arithmetic ⇒ identical drop decisions).
    "dedup_embedding" -> ((s, d) =>
      embeddingDedupSurvivors(Tables.embeddings(s, d), 0.35, blocks = 8)),
    // component labels over the same exact cosine-threshold edges
    // (memoized: the labeling is computed once per session and reused by
    // prune and the semantic pipeline).
    "dedup_embedding_cluster" -> ((s, d) =>
      clusterLabels(s, d).orderBy("vec_id")),
    // hash-gated despite being approximate: the seeded hyperplanes are
    // embedded in the oracle SQL as literals (see lshPlanes), so DuckDB
    // computes the SAME buckets and the full LSH pipeline is checked.
    "sim_ann_lsh" -> ((s, d) =>
      lshTopK(Tables.embeddings(s, d), col("vec_id") < 10, 5)
        .orderBy("q_id", "rnk")),
    "sim_ann_ivf" -> ((s, d) =>
      ivfProbe(Tables.embeddings(s, d), trainedCentroids(s, d, 16, 2),
        col("vec_id") < 10, 5).orderBy("q_id", "rnk")),
    // hash-gated IVF: 0 Lloyd rounds ⇒ centroids are the stride-seeded
    // data rows themselves, selectable in SQL — so the ENTIRE pipeline
    // (seeding → assignment → nprobe probing → candidate join → exact
    // top-k) is replicated by the DuckDB oracle. Same plan shape as the
    // trained variant; only the centroid table differs.
    "sim_ann_ivf_seeded" -> ((s, d) =>
      ivfProbe(Tables.embeddings(s, d), trainedCentroids(s, d, 16, 0),
        col("vec_id") < 10, 5).orderBy("q_id", "rnk")),
    // embedding near-dup: label-mates with cosine above threshold.
    // Norms precomputed per vector; the equi-join key is the label so the
    // pair blow-up shuffles ids+vectors once, not per-pair re-norms.
    // embedding near-dup: label-mates with cosine above threshold, via
    // the hot-key-safe blocked self-join (see nearDupPairCounts).
    "sim_near_dup" -> ((s, d) =>
      nearDupPairCounts(Tables.embeddings(s, d), 0.35, blocks = 8)),
    // candidate-ROUTED embedding dedup: LSH buckets -> candidate pairs ->
    // exact-cosine verify on candidates only -> keep-first drop. Same
    // seeded-plane-literal hash gate as sim_ann_lsh, so DuckDB routes and
    // drops the identical pairs.
    "dedup_embedding_lsh" -> ((s, d) =>
      embeddingDedupLshSurvivors(Tables.embeddings(s, d), 0.35)),
    // IVF-cluster-routed embedding dedup: seeded (0-Lloyd) centroids make
    // the whole route — membership, candidates, verify, drop — SQL-
    // replicable, so the key is hash-gated like sim_ann_ivf_seeded.
    // nlist/memberships come from env (defaults 16/2); the oracle SQL is
    // generated from the SAME values, so the gate holds at any setting.
    "dedup_embedding_ivf" -> ((s, d) =>
      embeddingDedupIvfSurvivors(Tables.embeddings(s, d), 0.35,
        trainedCentroids(s, d, ivfDedupNlist, 0),
        memberships = ivfDedupMemberships)),
    // PQ-compressed ANN: 8×16 stride-seeded codebooks (the ivf_seeded
    // rows' unit-normalized subvectors) -> map-side encode -> ADC
    // estimate scan -> exact re-rank of the 32 best-estimated ids.
    // Hash-gated: the oracle re-derives the codebooks, codes, lookup
    // tables, and both rank passes from the same selections.
    "sim_ann_pq" -> ((s, d) =>
      pqTopK(Tables.embeddings(s, d), trainedCentroids(s, d, 16, 0),
        col("vec_id") < 10, 5)),
    // the composed production index: IVF routing (nprobe=4 of 16 lists)
    // × PQ ADC scan × exact re-rank — FAISS IVFPQ. Same seeded rows as
    // both coarse centroids and codebook source, so the whole
    // composition is SQL-replicable and hash-gated.
    "sim_ann_ivfpq" -> ((s, d) =>
      ivfPqTopK(Tables.embeddings(s, d), trainedCentroids(s, d, 16, 0),
        col("vec_id") < 10, 5)),
    // the PERSISTED index: build/write once (memoized, billed to the
    // build pass), answer from the parquet artifact — the "index built
    // once, queried for months" production contract; oracle identical
    // to sim_ann_ivfpq because the artifact must not change results.
    "sim_ann_index_persist" -> ((s, d) =>
      ivfPqTopKFromIndex(s, persistedIndexDir(s, d),
        Tables.embeddings(s, d), col("vec_id") < 10, 5)),
    // INCREMENTAL maintenance of the persisted index: base-corpus
    // build (vec_id % 5 != 0), the held-out batch routed through the
    // LOADED frozen model, codes APPENDED, top-k answered from the
    // merged artifact — oracle = the full-rebuild ivfpq SQL verbatim,
    // because append-with-the-same-model must equal rebuild.
    "sim_ann_index_append" -> ((s, d) =>
      ivfPqTopKFromIndex(s, appendedIndexDir(s, d),
        Tables.embeddings(s, d), col("vec_id") < 10, 5)),
    // the lifecycle's last step: base build + TWO appends + one codes
    // COMPACTION (many small append files → one sized file), top-k
    // answered from the swapped artifact — compaction must not change
    // one row, so the oracle is again the full rebuild verbatim.
    "sim_ann_index_compact" -> ((s, d) =>
      ivfPqTopKFromIndex(s, compactedIndexDir(s, d),
        Tables.embeddings(s, d), col("vec_id") < 10, 5)),
    // the lifecycle's INVERSE of append (r11): a takedown split
    // (vec_id % 7 = 3) tombstoned in the persisted artifact, top-k
    // answered with deleted ids excluded from queries, candidates,
    // and results — FAISS remove_ids. Oracle = the full-rebuild ivfpq
    // SQL over the corpus minus the split, model still full-corpus
    // (deletion never retrains).
    "sim_ann_index_delete" -> ((s, d) =>
      ivfPqTopKFromIndex(s, deletedIndexDir(s, d),
        Tables.embeddings(s, d),
        col("vec_id") < 10 && !deletePred, 5)),
    // the DRIFT response (r13): a base-corpus index with a base-trained
    // model is REBUILT — model retrained on the full corpus, everything
    // recoded as a new generation, model+codes swapped under one
    // pointer — after which it must answer exactly as an index built
    // from scratch on the new corpus: oracle = the full-rebuild ivfpq
    // SQL verbatim, a fifth time.
    "sim_ann_index_rebuild" -> ((s, d) =>
      ivfPqTopKFromIndex(s, rebuiltIndexDir(s, d),
        Tables.embeddings(s, d), col("vec_id") < 10, 5)),
    // TRUE IVFPQ: PQ codes quantize the RESIDUAL x − c(x) (what FAISS
    // encodes), per-probed-list query tables; residual codebooks from
    // the disjoint second-stride seed rows — memoized model artifact.
    "sim_ann_ivfpq_residual" -> ((s, d) =>
      ivfPqResidualTopK(Tables.embeddings(s, d),
        trainedCentroids(s, d, 16, 0), col("vec_id") < 10, 5,
        booksOpt = Some(trainedResidualBooks(s, d, 16, 8)))),
    // exact cosine radius search for the 10-query block.
    "sim_range_search" -> ((s, d) =>
      rangeSearch(Tables.embeddings(s, d), col("vec_id") < 10, 0.35)),
    // nightly-ingest embedding dedup: new batch probes existing buckets,
    // cross-set candidates only, exact verify, survivors = clean new.
    "dedup_embedding_incremental" -> ((s, d) =>
      embeddingIncrementalSurvivors(Tables.embeddings(s, d), 0.35)),
    // the PRODUCTION sizing rule (SCALE_r05: nlist ∝ √n balances the
    // O(n·nlist) assignment term against the O(m²n²/nlist) verify term)
    // as a gated key: nlist = max(16, ⌈√n⌉) is derived from the corpus
    // count on BOTH engines, so the oracle replicates the dial itself —
    // the registered pipeline re-sizes as the corpus grows, no env edit.
    "dedup_embedding_ivf_auto" -> ((s, d) => {
      val n = Tables.embeddings(s, d).count()
      val nlist = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      embeddingDedupIvfSurvivors(Tables.embeddings(s, d), 0.35,
        trainedCentroids(s, d, nlist, 0), memberships = 2)
    })
  )

  /** Registered-key IVF-dedup dials, env-overridable so bench/scale runs
    * can sweep them without code edits. Production sizing: candidate mass
    * is Σ|list|² ≈ m²·n²/nlist at fixed nlist — grow nlist ∝ √n to keep
    * per-list size (and thus candidate mass per vector) constant; the
    * defaults suit the sf0.01 gate corpus (~2k vectors). */
  private[graft] def ivfDedupNlist: Int =
    sys.env.getOrElse("SPARK_GRAFT_IVF_NLIST", "16").toInt
  private[graft] def ivfDedupMemberships: Int =
    sys.env.getOrElse("SPARK_GRAFT_IVF_MEMBERSHIPS", "2").toInt

  /** Shared CTE chain for the cosine-component clustering oracles
    * (requires WITH RECURSIVE at the call site): `labs` carries
    * (vec_id, cluster) — single source of truth for
    * dedup_embedding_cluster, dedup_embedding_prune, and composed
    * pipelines, so the edge arithmetic can never drift between them. */
  private[graft] def sqlClusterLabsCtes(threshold: Double = 0.35): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |good AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE list_inner_product(a.emb, b.emb) /
       |        (sqrt(list_inner_product(a.emb, a.emb)) *
       |         sqrt(list_inner_product(b.emb, b.emb))) > $threshold),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM good
       |  UNION ALL SELECT b_id, a_id FROM good),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS lab FROM embeddings
       |  UNION
       |  SELECT e2.dst AS id, r.lab FROM reach r JOIN edges e2 ON e2.src = r.id),
       |labs AS (
       |  SELECT id AS vec_id, min(lab) AS cluster FROM reach GROUP BY id)""".stripMargin

  /** The sim_ann_ivfpq gate SQL, extracted so sim_ann_index_persist /
    * _append / _compact (identical results answered from the persisted
    * artifact) can share it verbatim. [[ivfPqOracleSqlLive]]
    * parameterizes the LIVE predicate for sim_ann_index_delete: the
    * model CTEs (stride, seeds, centroids) always read the FULL corpus
    * — deletion never retrains the model — while queries and
    * candidates restrict to undeleted rows; live = None interpolates
    * to empty strings, so the unparameterized constant below is
    * byte-identical to the r8–r10 oracle. */
  private val ivfPqOracleSql: String = ivfPqOracleSqlLive(None)

  private def ivfPqOracleSqlLive(live: Option[String]): String = {
    val and = live.map(p => s" AND $p").getOrElse("")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |en AS (
        |  SELECT vec_id,
        |         list_transform(emb,
        |           x -> x / sqrt(list_inner_product(emb, emb))) AS em
        |  FROM e),
        |st AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
        |seedrows AS (SELECT vec_id, emb FROM e
        |             WHERE vec_id % (SELECT stride FROM st) = 0
        |             ORDER BY vec_id LIMIT 16),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k,
        |         emb AS ce
        |  FROM seedrows),
        |centn AS (
        |  SELECT k AS ck,
        |         list_transform(ce,
        |           x -> x / sqrt(list_inner_product(ce, ce))) AS ce
        |  FROM cent),
        |ac AS (
        |  SELECT e.vec_id, c.k,
        |         list_inner_product(e.emb, c.ce) /
        |         (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.ce, c.ce))) AS cos
        |  FROM e CROSS JOIN cent c),
        |ranked_ac AS (
        |  SELECT vec_id, k,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, k DESC) AS rn
        |  FROM ac),
        |assigned AS (SELECT vec_id, k AS cluster FROM ranked_ac
        |             WHERE rn = 1$and),
        |probes AS (
        |  SELECT vec_id AS q_id, k AS cluster FROM ranked_ac
        |  WHERE rn <= 4 AND vec_id < 10$and),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.vec_id AS n_id
        |  FROM probes p JOIN assigned a ON p.cluster = a.cluster
        |  WHERE p.q_id <> a.vec_id),
        |sd AS (
        |  SELECT en.vec_id, mm.m, c.ck,
        |         list_inner_product(en.em[(mm.m*8+1):(mm.m*8+8)],
        |                            en.em[(mm.m*8+1):(mm.m*8+8)])
        |         - 2.0 * list_inner_product(en.em[(mm.m*8+1):(mm.m*8+8)],
        |                                    c.ce[(mm.m*8+1):(mm.m*8+8)])
        |         + list_inner_product(c.ce[(mm.m*8+1):(mm.m*8+8)],
        |                              c.ce[(mm.m*8+1):(mm.m*8+8)]) AS d
        |  FROM en CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm
        |  CROSS JOIN centn c),
        |codes AS (
        |  SELECT vec_id, m, ck AS code FROM (
        |    SELECT vec_id, m, ck, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, ck ASC) AS rn FROM sd)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS q_id, m, ck, d FROM sd WHERE vec_id < 10),
        |cw AS (SELECT vec_id AS n_id,
        |              max(CASE WHEN m = 0 THEN code END) AS c0,
        |              max(CASE WHEN m = 1 THEN code END) AS c1,
        |              max(CASE WHEN m = 2 THEN code END) AS c2,
        |              max(CASE WHEN m = 3 THEN code END) AS c3,
        |              max(CASE WHEN m = 4 THEN code END) AS c4,
        |              max(CASE WHEN m = 5 THEN code END) AS c5,
        |              max(CASE WHEN m = 6 THEN code END) AS c6,
        |              max(CASE WHEN m = 7 THEN code END) AS c7
        |       FROM codes GROUP BY vec_id),
        |est AS (
        |  SELECT q0.q_id, cw.n_id,
        |         ((((((q0.d + q1.d) + q2.d) + q3.d) + q4.d) + q5.d)
        |           + q6.d) + q7.d AS est
        |  FROM cw
        |  JOIN qd q0 ON q0.m = 0 AND q0.ck = cw.c0
        |  JOIN qd q1 ON q1.m = 1 AND q1.ck = cw.c1 AND q1.q_id = q0.q_id
        |  JOIN qd q2 ON q2.m = 2 AND q2.ck = cw.c2 AND q2.q_id = q0.q_id
        |  JOIN qd q3 ON q3.m = 3 AND q3.ck = cw.c3 AND q3.q_id = q0.q_id
        |  JOIN qd q4 ON q4.m = 4 AND q4.ck = cw.c4 AND q4.q_id = q0.q_id
        |  JOIN qd q5 ON q5.m = 5 AND q5.ck = cw.c5 AND q5.q_id = q0.q_id
        |  JOIN qd q6 ON q6.m = 6 AND q6.ck = cw.c6 AND q6.q_id = q0.q_id
        |  JOIN qd q7 ON q7.m = 7 AND q7.ck = cw.c7 AND q7.q_id = q0.q_id
        |  JOIN cand ON cand.q_id = q0.q_id AND cand.n_id = cw.n_id
        |  WHERE q0.q_id <> cw.n_id),
        |routed AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY est ASC, n_id ASC) AS re FROM est)
        |  WHERE re <= 32),
        |scored AS (
        |  SELECT r.q_id, r.n_id,
        |         list_inner_product(qe.emb, ne.emb) /
        |         (sqrt(list_inner_product(qe.emb, qe.emb)) *
        |          sqrt(list_inner_product(ne.emb, ne.emb))) AS cos
        |  FROM routed r JOIN e qe ON qe.vec_id = r.q_id
        |  JOIN e ne ON ne.vec_id = r.n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // same arithmetic as the Spark side's dot-identity form: the error
    // sum is x·x − 2(x·q)/s + (q·q)/s² over identical left-fold inner
    // products, so the doubles match before rounding; max|err| is the
    // per-element form (order-independent max).
    "embed_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |         127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, scale, len(v) AS n,
        |         list_transform(v, x -> floor(x * scale + 0.5)) AS q8
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       round(sqrt(greatest(
        |           list_inner_product(v, v)
        |           - 2.0 * list_inner_product(v, q8) / scale
        |           + list_inner_product(q8, q8) / (scale * scale),
        |         0.0) / n), 6) AS rmse,
        |       round(list_max(list_transform(v,
        |         x -> abs(x - floor(x * scale + 0.5) / scale))), 6)
        |         AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // the quantized route is exact integer arithmetic (scale factors
    // cancel), so candidates AND final ranks replicate bit-identically.
    "sim_ann_quantized" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |         127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e),
        |qz AS (
        |  SELECT vec_id, v,
        |         list_transform(v, x -> floor(x * scale + 0.5)) AS q8
        |  FROM s),
        |n AS (
        |  SELECT vec_id, v, q8,
        |         sqrt(list_inner_product(q8, q8)) AS qn,
        |         sqrt(list_inner_product(v, v)) AS fn
        |  FROM qz),
        |routed AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.v AS qv, c.v AS cv,
        |         q.fn AS qfn, c.fn AS cfn,
        |         list_inner_product(q.q8, c.q8) / (q.qn * c.qn) AS qcos
        |  FROM n q, n c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |topr AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY q_id ORDER BY qcos DESC, n_id) AS qrnk
        |  FROM routed),
        |rer AS (
        |  SELECT q_id, n_id,
        |         list_inner_product(qv, cv) / (qfn * cfn) AS cos
        |  FROM topr WHERE qrnk <= 20),
        |ranked AS (
        |  SELECT q_id, n_id, cos, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM rer)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // avg(FLOAT) widens to DOUBLE identically in both engines; the
    // per-component rounding absorbs reassociation noise (~1e-13).
    "embed_label_centroids" ->
      """SELECT label, CAST(i AS BIGINT) AS dim, round(avg(v), 6) AS m,
        |       count(*) AS n_vecs
        |FROM (
        |  SELECT label, embedding[i] AS v, i FROM (
        |    SELECT label, embedding,
        |           unnest(range(1, len(embedding) + 1)) AS i
        |    FROM embeddings))
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id,
        |         list_inner_product(q.qe, e.emb) /
        |         (sqrt(list_inner_product(q.qe, q.qe)) * sqrt(list_inner_product(e.emb, e.emb))) AS cos
        |  FROM q, e WHERE q.q_id <> e.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "sim_ann_lsh" ->
      // replicate the seeded sign-LSH buckets with plane literals: the
      // dot fold order equals list_inner_product and Double.toString
      // round-trips through DuckDB's parser, so sign decisions (hence
      // buckets, candidates, and the final top-k) are bit-identical.
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (
         |  SELECT vec_id, t.tbl, t.bucket FROM e CROSS JOIN LATERAL (VALUES
         |    ${sqlBucketRows(64, 4, 8)}) t(tbl, bucket)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |scored AS (
         |  SELECT cand.q_id, cand.n_id,
         |         list_inner_product(qe.emb, ne.emb) /
         |         (sqrt(list_inner_product(qe.emb, qe.emb)) * sqrt(list_inner_product(ne.emb, ne.emb))) AS cos
         |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
         |  JOIN e ne ON ne.vec_id = cand.n_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_inner_product(a.emb, b.emb) /
        |        (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))) > 0.35)
        |SELECT e.vec_id, e.label FROM e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY e.vec_id""".stripMargin,
    // same edge arithmetic as dedup_embedding; the component labels are
    // the min-id fixpoint, which the RECURSIVE reach-set replays.
    "dedup_embedding_cluster" ->
      s"""WITH RECURSIVE ${sqlClusterLabsCtes()}
         |SELECT vec_id, cluster FROM labs ORDER BY vec_id""".stripMargin,
    // the cluster CTE chain plus one ranked window — min-2 per label.
    "dedup_embedding_prune" ->
      s"""WITH RECURSIVE ${sqlClusterLabsCtes()},
         |ranked AS (
         |  SELECT vec_id, cluster,
         |         row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rk
         |  FROM labs)
         |SELECT vec_id, cluster FROM ranked WHERE rk <= 2
         |ORDER BY vec_id""".stripMargin,
    // Replicates ivfCentroids(iters=0) + ivfProbe exactly: stride-seeded
    // centroids are data rows; assignment/probing tie-breaks follow
    // Spark's array_max/array_sort struct ordering (cos DESC, then k
    // DESC); fold order of list_inner_product matches the native dot
    // expression, so cosines — hence clusters, candidates and the top-k —
    // are bit-identical.
    "sim_ann_ivf_seeded" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |st AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, emb AS ce
        |  FROM (SELECT vec_id, emb FROM e
        |        WHERE vec_id % (SELECT stride FROM st) = 0
        |        ORDER BY vec_id LIMIT 16)),
        |ac AS (
        |  SELECT e.vec_id, c.k,
        |         list_inner_product(e.emb, c.ce) /
        |         (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.ce, c.ce))) AS cos
        |  FROM e CROSS JOIN cent c),
        |ranked_ac AS (
        |  SELECT vec_id, k,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, k DESC) AS rn
        |  FROM ac),
        |assigned AS (SELECT vec_id, k AS cluster FROM ranked_ac WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, k AS cluster FROM ranked_ac
        |  WHERE rn <= 4 AND vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.vec_id AS n_id
        |  FROM probes p JOIN assigned a ON p.cluster = a.cluster
        |  WHERE p.q_id <> a.vec_id),
        |scored AS (
        |  SELECT cand.q_id, cand.n_id,
        |         list_inner_product(qe.emb, ne.emb) /
        |         (sqrt(list_inner_product(qe.emb, qe.emb)) * sqrt(list_inner_product(ne.emb, ne.emb))) AS cos
        |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
        |  JOIN e ne ON ne.vec_id = cand.n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // Replicates pqTopK: the same stride-seeded rows, UNIT-normalized
    // exactly as Spark (x / sqrt(li(v,v)) elementwise on the FULL
    // vector, then sliced) into 8×16 codebooks (list slices are 1-based
    // inclusive = Spark's slice(edn, m*8+1, 8)), identical L2²
    // parenthesization (li(v,v) - 2.0*li(v,c) + li(c,c)), argmin rn=1
    // on (d, ck), the 8-term ADC sum left-associated, both rank passes
    // pinned; the re-rank cosine runs on the RAW vectors like every
    // other ANN key.
    "sim_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |en AS (
        |  SELECT vec_id,
        |         list_transform(emb,
        |           x -> x / sqrt(list_inner_product(emb, emb))) AS em
        |  FROM e),
        |st AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ck,
        |         list_transform(emb,
        |           x -> x / sqrt(list_inner_product(emb, emb))) AS ce
        |  FROM (SELECT vec_id, emb FROM e
        |        WHERE vec_id % (SELECT stride FROM st) = 0
        |        ORDER BY vec_id LIMIT 16)),
        |sd AS (
        |  SELECT en.vec_id, mm.m, c.ck,
        |         list_inner_product(en.em[(mm.m*8+1):(mm.m*8+8)],
        |                            en.em[(mm.m*8+1):(mm.m*8+8)])
        |         - 2.0 * list_inner_product(en.em[(mm.m*8+1):(mm.m*8+8)],
        |                                    c.ce[(mm.m*8+1):(mm.m*8+8)])
        |         + list_inner_product(c.ce[(mm.m*8+1):(mm.m*8+8)],
        |                              c.ce[(mm.m*8+1):(mm.m*8+8)]) AS d
        |  FROM en CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm
        |  CROSS JOIN cent c),
        |codes AS (
        |  SELECT vec_id, m, ck AS code FROM (
        |    SELECT vec_id, m, ck, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, ck ASC) AS rn FROM sd)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS q_id, m, ck, d FROM sd WHERE vec_id < 10),
        |cw AS (SELECT vec_id AS n_id,
        |              max(CASE WHEN m = 0 THEN code END) AS c0,
        |              max(CASE WHEN m = 1 THEN code END) AS c1,
        |              max(CASE WHEN m = 2 THEN code END) AS c2,
        |              max(CASE WHEN m = 3 THEN code END) AS c3,
        |              max(CASE WHEN m = 4 THEN code END) AS c4,
        |              max(CASE WHEN m = 5 THEN code END) AS c5,
        |              max(CASE WHEN m = 6 THEN code END) AS c6,
        |              max(CASE WHEN m = 7 THEN code END) AS c7
        |       FROM codes GROUP BY vec_id),
        |est AS (
        |  SELECT q0.q_id, cw.n_id,
        |         ((((((q0.d + q1.d) + q2.d) + q3.d) + q4.d) + q5.d)
        |           + q6.d) + q7.d AS est
        |  FROM cw
        |  JOIN qd q0 ON q0.m = 0 AND q0.ck = cw.c0
        |  JOIN qd q1 ON q1.m = 1 AND q1.ck = cw.c1 AND q1.q_id = q0.q_id
        |  JOIN qd q2 ON q2.m = 2 AND q2.ck = cw.c2 AND q2.q_id = q0.q_id
        |  JOIN qd q3 ON q3.m = 3 AND q3.ck = cw.c3 AND q3.q_id = q0.q_id
        |  JOIN qd q4 ON q4.m = 4 AND q4.ck = cw.c4 AND q4.q_id = q0.q_id
        |  JOIN qd q5 ON q5.m = 5 AND q5.ck = cw.c5 AND q5.q_id = q0.q_id
        |  JOIN qd q6 ON q6.m = 6 AND q6.ck = cw.c6 AND q6.q_id = q0.q_id
        |  JOIN qd q7 ON q7.m = 7 AND q7.ck = cw.c7 AND q7.q_id = q0.q_id
        |  WHERE q0.q_id <> cw.n_id),
        |routed AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY est ASC, n_id ASC) AS re FROM est)
        |  WHERE re <= 32),
        |scored AS (
        |  SELECT r.q_id, r.n_id,
        |         list_inner_product(qe.emb, ne.emb) /
        |         (sqrt(list_inner_product(qe.emb, qe.emb)) *
        |          sqrt(list_inner_product(ne.emb, ne.emb))) AS cos
        |  FROM routed r JOIN e qe ON qe.vec_id = r.q_id
        |  JOIN e ne ON ne.vec_id = r.n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // the sim_ann_pq oracle with its ADC scan RESTRICTED to the
    // sim_ann_ivf_seeded oracle's probed-list candidates — the spliced
    // executable spec of the composed IVFPQ plan (same seeded rows play
    // coarse centroids and codebooks; every tie-break pin shared).
    "sim_ann_ivfpq" -> ivfPqOracleSql,
    // identical result set answered FROM THE PERSISTED ARTIFACT — the
    // production contract the memos only simulate (build once, load in a
    // later session); identity with the in-session route is the gate.
    "sim_ann_index_persist" -> ivfPqOracleSql,
    // append-then-query must equal full-rebuild-then-query given the
    // same frozen model: the oracle IS the full rebuild, verbatim.
    "sim_ann_index_append" -> ivfPqOracleSql,
    // and compaction must not change one row: same oracle again.
    "sim_ann_index_compact" -> ivfPqOracleSql,
    // rebuild must equal a from-scratch build on the new corpus with
    // the new model — the full-rebuild SQL verbatim again.
    "sim_ann_index_rebuild" -> ivfPqOracleSql,
    // delete = the full rebuild over the corpus MINUS the takedown
    // split, with the model (stride/seeds/centroids) still derived
    // from the FULL corpus — FAISS remove_ids never retrains; only
    // queries and candidate vectors restrict to live rows.
    "sim_ann_index_delete" ->
      ivfPqOracleSqlLive(Some("vec_id % 7 <> 3")),
    // TRUE IVFPQ replay: residual codewords from the second-stride seed
    // rows (rcw), per-vector residual codes (res/sd/codes), and
    // PER-(query, probed-list) distance tables (qres/qd) — joining qd
    // on the stored vector's own cluster IS the probed-list
    // restriction, exactly like the Spark plan's equi-join. All
    // elementwise arithmetic is index arithmetic (list_transform =
    // zip_with), every argmin/rank tie pinned as in the plain key.
    "sim_ann_ivfpq_residual" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |en AS (
        |  SELECT vec_id,
        |         list_transform(emb,
        |           x -> x / sqrt(list_inner_product(emb, emb))) AS em
        |  FROM e),
        |st AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
        |seedrows AS (SELECT vec_id, emb FROM e
        |             WHERE vec_id % (SELECT stride FROM st) = 0
        |             ORDER BY vec_id LIMIT 16),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k,
        |         emb AS ce
        |  FROM seedrows),
        |centn AS (
        |  SELECT k AS ck,
        |         list_transform(ce,
        |           x -> x / sqrt(list_inner_product(ce, ce))) AS ce
        |  FROM cent),
        |ac AS (
        |  SELECT e.vec_id, c.k,
        |         list_inner_product(e.emb, c.ce) /
        |         (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.ce, c.ce))) AS cos
        |  FROM e CROSS JOIN cent c),
        |ranked_ac AS (
        |  SELECT vec_id, k,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, k DESC) AS rn
        |  FROM ac),
        |assigned AS (SELECT vec_id, k AS cluster FROM ranked_ac WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, k AS cluster FROM ranked_ac
        |  WHERE rn <= 4 AND vec_id < 10),
        |seed2 AS (SELECT vec_id, emb FROM e
        |          WHERE vec_id % (SELECT stride FROM st) = 1
        |          ORDER BY vec_id LIMIT 16),
        |en2 AS (
        |  SELECT vec_id,
        |         list_transform(emb,
        |           x -> x / sqrt(list_inner_product(emb, emb))) AS em
        |  FROM seed2),
        |rcw AS (
        |  SELECT CAST(row_number() OVER (ORDER BY en2.vec_id) - 1 AS INT)
        |           AS rk,
        |         list_transform(range(1, 65), i -> en2.em[i] - cn.ce[i])
        |           AS rc
        |  FROM en2 JOIN assigned a ON a.vec_id = en2.vec_id
        |  JOIN centn cn ON cn.ck = a.cluster),
        |res AS (
        |  SELECT en.vec_id, a.cluster,
        |         list_transform(range(1, 65), i -> en.em[i] - cn.ce[i])
        |           AS rm
        |  FROM en JOIN assigned a ON a.vec_id = en.vec_id
        |  JOIN centn cn ON cn.ck = a.cluster),
        |sd AS (
        |  SELECT res.vec_id, mm.m, rcw.rk,
        |         list_inner_product(rm[(mm.m*8+1):(mm.m*8+8)],
        |                            rm[(mm.m*8+1):(mm.m*8+8)])
        |         - 2.0 * list_inner_product(rm[(mm.m*8+1):(mm.m*8+8)],
        |                                    rc[(mm.m*8+1):(mm.m*8+8)])
        |         + list_inner_product(rc[(mm.m*8+1):(mm.m*8+8)],
        |                              rc[(mm.m*8+1):(mm.m*8+8)]) AS d
        |  FROM res CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm
        |  CROSS JOIN rcw),
        |codes AS (
        |  SELECT vec_id, m, rk AS code FROM (
        |    SELECT vec_id, m, rk, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, rk ASC) AS rn FROM sd)
        |  WHERE rn = 1),
        |cw AS (SELECT c.vec_id AS n_id, a.cluster,
        |              max(CASE WHEN m = 0 THEN code END) AS c0,
        |              max(CASE WHEN m = 1 THEN code END) AS c1,
        |              max(CASE WHEN m = 2 THEN code END) AS c2,
        |              max(CASE WHEN m = 3 THEN code END) AS c3,
        |              max(CASE WHEN m = 4 THEN code END) AS c4,
        |              max(CASE WHEN m = 5 THEN code END) AS c5,
        |              max(CASE WHEN m = 6 THEN code END) AS c6,
        |              max(CASE WHEN m = 7 THEN code END) AS c7
        |       FROM codes c JOIN assigned a ON a.vec_id = c.vec_id
        |       GROUP BY c.vec_id, a.cluster),
        |qres AS (
        |  SELECT p.q_id, p.cluster,
        |         list_transform(range(1, 65), i -> en.em[i] - cn.ce[i])
        |           AS rq
        |  FROM probes p JOIN en ON en.vec_id = p.q_id
        |  JOIN centn cn ON cn.ck = p.cluster),
        |qd AS (
        |  SELECT q.q_id, q.cluster, mm.m, rcw.rk,
        |         list_inner_product(rq[(mm.m*8+1):(mm.m*8+8)],
        |                            rq[(mm.m*8+1):(mm.m*8+8)])
        |         - 2.0 * list_inner_product(rq[(mm.m*8+1):(mm.m*8+8)],
        |                                    rc[(mm.m*8+1):(mm.m*8+8)])
        |         + list_inner_product(rc[(mm.m*8+1):(mm.m*8+8)],
        |                              rc[(mm.m*8+1):(mm.m*8+8)]) AS d
        |  FROM qres q CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm
        |  CROSS JOIN rcw),
        |est AS (
        |  SELECT q0.q_id, cw.n_id,
        |         ((((((q0.d + q1.d) + q2.d) + q3.d) + q4.d) + q5.d)
        |           + q6.d) + q7.d AS est
        |  FROM cw
        |  JOIN qd q0 ON q0.cluster = cw.cluster AND q0.m = 0 AND q0.rk = cw.c0
        |  JOIN qd q1 ON q1.cluster = cw.cluster AND q1.m = 1 AND q1.rk = cw.c1
        |    AND q1.q_id = q0.q_id
        |  JOIN qd q2 ON q2.cluster = cw.cluster AND q2.m = 2 AND q2.rk = cw.c2
        |    AND q2.q_id = q0.q_id
        |  JOIN qd q3 ON q3.cluster = cw.cluster AND q3.m = 3 AND q3.rk = cw.c3
        |    AND q3.q_id = q0.q_id
        |  JOIN qd q4 ON q4.cluster = cw.cluster AND q4.m = 4 AND q4.rk = cw.c4
        |    AND q4.q_id = q0.q_id
        |  JOIN qd q5 ON q5.cluster = cw.cluster AND q5.m = 5 AND q5.rk = cw.c5
        |    AND q5.q_id = q0.q_id
        |  JOIN qd q6 ON q6.cluster = cw.cluster AND q6.m = 6 AND q6.rk = cw.c6
        |    AND q6.q_id = q0.q_id
        |  JOIN qd q7 ON q7.cluster = cw.cluster AND q7.m = 7 AND q7.rk = cw.c7
        |    AND q7.q_id = q0.q_id
        |  WHERE q0.q_id <> cw.n_id),
        |routed AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY est ASC, n_id ASC) AS re FROM est)
        |  WHERE re <= 32),
        |scored AS (
        |  SELECT r.q_id, r.n_id,
        |         list_inner_product(qe.emb, ne.emb) /
        |         (sqrt(list_inner_product(qe.emb, qe.emb)) *
        |          sqrt(list_inner_product(ne.emb, ne.emb))) AS cos
        |  FROM routed r JOIN e qe ON qe.vec_id = r.q_id
        |  JOIN e ne ON ne.vec_id = r.n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id, round(cos, 6) AS cos_sim FROM ranked
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "sim_near_dup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |pairs AS (
        |  SELECT a.label,
        |         list_inner_product(a.emb, b.emb) /
        |         (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, count(*) AS n_pairs FROM pairs WHERE cos > 0.35
        |GROUP BY label ORDER BY label""".stripMargin,
    // Replicates lshDedupCandidates + embeddingDedupLshSurvivors exactly:
    // same seeded buckets (plane literals), same candidate self-join, same
    // cosine verify — DuckDB drops the identical vec_ids.
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (
         |  SELECT vec_id, t.tbl, t.bucket FROM e CROSS JOIN LATERAL (VALUES
         |    ${sqlBucketRows(64, 6, 8)}) t(tbl, bucket)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
         |  WHERE a.vec_id < c.vec_id),
         |dropped AS (
         |  SELECT DISTINCT cand.b_id AS vec_id
         |  FROM cand JOIN e ea ON ea.vec_id = cand.a_id
         |  JOIN e eb ON eb.vec_id = cand.b_id
         |  WHERE list_inner_product(ea.emb, eb.emb) /
         |        (sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb))) > 0.35)
         |SELECT e.vec_id, e.label FROM e
         |WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "sim_range_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |       round(list_inner_product(q.emb, c.emb) /
        |         (sqrt(list_inner_product(q.emb, q.emb)) *
        |          sqrt(list_inner_product(c.emb, c.emb))), 6) AS cos_sim
        |FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |WHERE q.vec_id < 10
        |  AND list_inner_product(q.emb, c.emb) /
        |      (sqrt(list_inner_product(q.emb, q.emb)) *
        |       sqrt(list_inner_product(c.emb, c.emb))) > 0.35
        |ORDER BY q_id, n_id""".stripMargin,
    // same buckets as dedup_embedding_lsh, candidates restricted to
    // cross-set (new xor existing), dropped id = the NEW side.
    "dedup_embedding_incremental" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (
         |  SELECT vec_id, t.tbl, t.bucket FROM e CROSS JOIN LATERAL (VALUES
         |    ${sqlBucketRows(64, 6, 8)}) t(tbl, bucket)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
         |  WHERE a.vec_id < c.vec_id
         |    AND (a.vec_id % 5 = 0) <> (c.vec_id % 5 = 0)),
         |dropped AS (
         |  SELECT DISTINCT CASE WHEN cand.a_id % 5 = 0 THEN cand.a_id
         |                       ELSE cand.b_id END AS vec_id
         |  FROM cand JOIN e ea ON ea.vec_id = cand.a_id
         |  JOIN e eb ON eb.vec_id = cand.b_id
         |  WHERE list_inner_product(ea.emb, eb.emb) /
         |        (sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb))) > 0.35)
         |SELECT e.vec_id, e.label FROM e
         |WHERE e.vec_id % 5 = 0
         |  AND e.vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    // Replicates embeddingDedupIvfSurvivors with the seeded (0-Lloyd)
    // centroids: stride-seeded centroid rows, multi-assignment rn <= 2
    // with the array_max/array_sort tie order (cos DESC, k DESC), cluster
    // equi-join candidates, exact-cosine verify, keep-first drop.
    "dedup_embedding_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |st AS (SELECT greatest(1, count(*) // $ivfDedupNlist) AS stride FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, emb AS ce
        |  FROM (SELECT vec_id, emb FROM e
        |        WHERE vec_id % (SELECT stride FROM st) = 0
        |        ORDER BY vec_id LIMIT $ivfDedupNlist)),
        |ac AS (
        |  SELECT e.vec_id, c.k,
        |         list_inner_product(e.emb, c.ce) /
        |         (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.ce, c.ce))) AS cos
        |  FROM e CROSS JOIN cent c),
        |ranked_ac AS (
        |  SELECT vec_id, k,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, k DESC) AS rn
        |  FROM ac),
        |member AS (SELECT vec_id, k AS cluster FROM ranked_ac WHERE rn <= $ivfDedupMemberships),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM member a JOIN member b ON a.cluster = b.cluster
        |  WHERE a.vec_id < b.vec_id),
        |dropped AS (
        |  SELECT DISTINCT cand.b_id AS vec_id
        |  FROM cand JOIN e ea ON ea.vec_id = cand.a_id
        |  JOIN e eb ON eb.vec_id = cand.b_id
        |  WHERE list_inner_product(ea.emb, eb.emb) /
        |        (sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb))) > 0.35)
        |SELECT e.vec_id, e.label FROM e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY e.vec_id""".stripMargin,
    // Same route as dedup_embedding_ivf, but the nlist dial itself is
    // data-derived (max(16, ceil(sqrt(n))) — the SCALE_r05 production
    // rule) and recomputed identically by the oracle, so the sizing rule
    // is inside the hash gate, not just documentation.
    "dedup_embedding_ivf_auto" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist,
        |             greatest(1, count(*) // greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS stride
        |      FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, emb AS ce
        |  FROM (SELECT vec_id, emb FROM e
        |        WHERE vec_id % (SELECT stride FROM p) = 0
        |        ORDER BY vec_id LIMIT (SELECT nlist FROM p))),
        |ac AS (
        |  SELECT e.vec_id, c.k,
        |         list_inner_product(e.emb, c.ce) /
        |         (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.ce, c.ce))) AS cos
        |  FROM e CROSS JOIN cent c),
        |ranked_ac AS (
        |  SELECT vec_id, k,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, k DESC) AS rn
        |  FROM ac),
        |member AS (SELECT vec_id, k AS cluster FROM ranked_ac WHERE rn <= 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM member a JOIN member b ON a.cluster = b.cluster
        |  WHERE a.vec_id < b.vec_id),
        |dropped AS (
        |  SELECT DISTINCT cand.b_id AS vec_id
        |  FROM cand JOIN e ea ON ea.vec_id = cand.a_id
        |  JOIN e eb ON eb.vec_id = cand.b_id
        |  WHERE list_inner_product(ea.emb, eb.emb) /
        |        (sqrt(list_inner_product(ea.emb, ea.emb)) * sqrt(list_inner_product(eb.emb, eb.emb))) > 0.35)
        |SELECT e.vec_id, e.label FROM e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY e.vec_id""".stripMargin
  )

  /** VALUES rows replicating the seeded sign-LSH buckets in SQL (one row
    * per table): each bucket bit is the sign of list_inner_product
    * against the plane literal — Double.toString round-trips exactly
    * through DuckDB's parser and the fold order matches the native dot
    * expression, so the buckets are bit-identical. Shared by the
    * sim_ann_lsh and dedup_embedding_lsh oracles. Expects the vector
    * column to be named `emb` in the enclosing CTE. */
  private def sqlBucketRows(dim: Int, bits: Int, tables: Int): String = {
    def arr(a: Array[Double]) = a.map(_.toString).mkString("[", ", ", "]")
    (0 until tables).map { t =>
      val planes = lshPlanes(dim, bits, t)
      val expr = (0 until bits).map { p =>
        s"(CASE WHEN list_inner_product(emb, ${arr(planes(p))}) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n       + ")
      s"($t,\n         $expr)"
    }.mkString(",\n    ")
  }
}
