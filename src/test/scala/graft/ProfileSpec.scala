package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Profile
import graft.model.Tables

class ProfileSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("profile_columns matches direct recomputation and scans once") {
    val out = Profile.queries("profile_columns")(spark, TestSpark.sf0001)
    val rows = out.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val n = docs.count()
    assert(rows.keySet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    assert(rows("doc_id") == ((0L, n,
      docs.agg(min("doc_id")).head().getLong(0).toString,
      docs.agg(max("doc_id")).head().getLong(0).toString)))
    assert(rows("lang")._2 == docs.select("lang").distinct().count())
    assert(rows("lang")._3 == "de" && rows("lang")._4 == "zh")
    // one-pass: a single parquet scan feeds every aggregate (AQE prints
    // the plan twice — Final + Initial — so count only the final section)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("vocabGrowth: checkpoints at exact corpus-eighths, tokens grow " +
      "linearly, vocabulary sublinearly (Heaps exponent in [0,1)), " +
      "type-token ratio non-increasing") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val n = docs.count()
    val out = graft.ops.Profile.vocabGrowth(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L).map(k => n * k / 8))
    // tokens strictly increase; vocab never decreases; ttr never rises
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2 && b._3 >= a._3 && b._4 <= a._4 + 1e-12, (a, b))
    case _ => ()
    }
    // the full-corpus row covers everything
    val totalToks = docs.select(sum(size(filter(split(col("text"), " "),
      w => length(w) > 0)))).head().getLong(0)
    assert(out.last._2 == totalToks)
    // Heaps' law V = K·N^beta — the fitted exponent from the first and
    // last checkpoints must be a sane sublinear growth rate
    val beta = math.log(out.last._3.toDouble / out.head._3) /
      math.log(out.last._2.toDouble / out.head._2)
    assert(beta >= 0.0 && beta < 1.0, beta)
  }

  test("sourceDriftKs: identical sources score 0; a disjoint-range " +
      "source scores exactly the pooled-ECDF gap of 0.5") {
    def docs(ranges: (String, Range)*) = ranges.flatMap { case (s, r) =>
      r.map(i => (s"$s-$i", s, i.toLong))
    }.toDF("doc_id", "source", "n_chars")
    val same = Profile.sourceDriftKs(
        docs("a" -> (1 to 100), "b" -> (1 to 100)))
      .select("source", "ks").as[(String, Double)].collect().toMap
    assert(same == Map("a" -> 0.0, "b" -> 0.0), same.toString)
    val shifted = Profile.sourceDriftKs(
        docs("a" -> (1 to 100), "b" -> (101 to 200)))
      .select("source", "ks").as[(String, Double)].collect().toMap
    assert(shifted == Map("a" -> 0.5, "b" -> 0.5), shifted.toString)
  }

  test("sourceDriftPsi: a single-source corpus scores exactly 0 " +
      "(smoothing cancels); a disjoint-range source scores far above " +
      "a same-distribution one") {
    def docs(ranges: (String, Range)*) = ranges.flatMap { case (s, r) =>
      r.map(i => (s"$s-$i", s, i.toLong))
    }.toDF("doc_id", "source", "n_chars")
    // one source: p and q are the same smoothed ratio bin-for-bin
    val single = Profile.sourceDriftPsi(docs("a" -> (1 to 100)))
      .select("source", "psi").as[(String, Double)].collect().toMap
    assert(single == Map("a" -> 0.0), single.toString)
    // PSI scores each source against the POOLED corpus, so the drifted
    // source must be a minority for the majority to score low: a and b
    // share a distribution, small c occupies a disjoint range. Industry
    // rule of thumb flags PSI > 0.25 as major drift.
    val three = Profile.sourceDriftPsi(docs(
        "a" -> (1 to 100), "b" -> (1 to 100), "c" -> (201 to 210)))
      .select("source", "psi").as[(String, Double)].collect().toMap
    assert(three("c") > 0.25, three.toString)
    assert(three("a") < 0.15 && three("b") < 0.15, three.toString)
    assert(three("a") == three("b"), three.toString)
  }

  test("sorted layout: every parquet file owns a disjoint n_chars range " +
      "(footer min/max can prune files) and the round trip is " +
      "row-invisible") {
    val dir = Profile.sortedCopy(spark, TestSpark.sf0001)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    assert(perFile.length > 1)
    perFile.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"overlap: ${a._1} [${a._2},${a._3}] vs " +
        s"${b._1} [${b._2},${b._3}]")
    }
    val n = spark.read.parquet(dir).count()
    assert(n == Tables.documents(spark, TestSpark.sf0001).count())
  }

  test("morton interleave is injective over the full 10-bit grid " +
      "(the property that makes z-key ranges mean 2-D cells)") {
    // all 2^20 (x, y) pairs -> exactly 2^20 distinct z-keys, each < 2^20
    val grid = spark.range(1 << 20).selectExpr(
      "id % 1024 AS zuser", "id div 1024 AS zday")
    val keyed = grid.withColumn("zkey",
      Profile.morton10(col("zuser"), col("zday")))
    val stats = keyed.agg(
      countDistinct(col("zkey")).as("d"),
      max(col("zkey")).as("mx"), min(col("zkey")).as("mn")).head()
    assert(stats.getLong(0) == (1L << 20))
    assert(stats.getLong(2) >= 0L && stats.getLong(1) < (1L << 20))
  }

  test("join_dpp_prune: the fact scan carries a DYNAMIC pruning " +
      "expression (runtime partition selection from the dim read)") {
    val out = Profile.queries("join_dpp_prune")(spark, TestSpark.sf0001)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(_._1).sorted == Seq("en", "zh") &&
      rows.forall(_._2 == "major"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$plan")
  }

  test("z-order layout: per-file zkey ranges are disjoint, and footer " +
      "min/max skip files for a predicate on EITHER curve dimension") {
    // sf0.01: 150 users x 30 days — both dimensions have enough spread
    // for the interleave to localize them (sf0.001 has 15 users, below
    // one file's row count).
    val dir = Profile.zorderCopy(spark, "/root/testdata/sf0.01")
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("klo"), max("zkey").as("khi"),
        min("zuser").as("ulo"), max("zuser").as("uhi"),
        min("zday").as("dlo"), max("zday").as("dhi"))
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(perFile.length > 2)
    perFile.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"zkey overlap between ${a._1} and ${b._1}")
    }
    // a selective range on EACH dimension must exclude at least one
    // file by its min/max alone — single-column sorting can only ever
    // do this for its own column.
    val uq = (0L, 15L)
    val dq = (perFile.map(_._6).min, perFile.map(_._6).min + 4)
    val uHit = perFile.count(f => f._4 <= uq._2 && f._5 >= uq._1)
    val dHit = perFile.count(f => f._6 <= dq._2 && f._7 >= dq._1)
    assert(uHit < perFile.length, s"no user-dim skipping: $uHit files")
    assert(dHit < perFile.length, s"no day-dim skipping: $dHit files")
    assert(spark.read.parquet(dir).count() ==
      Tables.events(spark, "/root/testdata/sf0.01").count())
  }

  test("sink_partitioned_prune equals the source filter and prunes " +
      "partitions in the scan") {
    val out = Profile.queries("sink_partitioned_prune")(spark, TestSpark.sf0001)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = Tables.documents(spark, TestSpark.sf0001)
      .filter(col("lang") === "en")
      .select("doc_id", "lang").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want && got.nonEmpty)
    // the predicate must reach the scan as a PARTITION filter with the
    // lang=en equality (directory pruning), and must NOT appear as a
    // data filter over all partitions.
    val scan = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]* = en".r
      .findFirstIn(scan).isDefined, scan)
    assert(scan.contains("PushedFilters: []"), scan)
  }

  test("sink_jsonl_shards writes the requested shard count and round-trips " +
      "exactly") {
    val out = Profile.queries("sink_jsonl_shards")(spark, TestSpark.sf0001)
    val got = out.collect()
    val want = Tables.documents(spark, TestSpark.sf0001)
      .orderBy("doc_id").collect()
    assert(got.length == want.length)
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // shard layout: exactly 4 part files, range-sharded so files hold
    // disjoint contiguous id ranges
    val dir = Profile.jsonlCopy(spark, TestSpark.sf0001, 4)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sorted
    assert(parts.length == 4, parts.mkString(","))
    val ranges = parts.map { f =>
      val ids = spark.read
        .schema(Tables.documents(spark, TestSpark.sf0001).schema)
        .json(f.getPath).select("doc_id")
        .collect().map(_.getLong(0))
      (ids.min, ids.max)
    }
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
  }

  test("sink_compact_sized: 64 fragment files compact to the size-derived " +
      "count, rows survive exactly, and the rewrite is shuffle-free") {
    val (root, nOut) = Profile.compactCopy(spark, TestSpark.sf0001)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val small = parquetFiles(s"$root/small")
    val compact = parquetFiles(s"$root/compact")
    assert(small.length == 64)
    assert(compact.length == nOut && nOut < 64,
      s"nOut=$nOut files=${compact.length}")
    // n_out really derives from the data: ceil(total / 256 KB)
    val total = small.map(_.length).sum
    assert(nOut == math.max(1, math.ceil(total / (256.0 * 1024)).toInt))
    // row-invisible: compacted table equals the source
    val got = SparkEntry.queries("sink_compact_sized")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    val want = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == want)
    // coalesce, not repartition: the compaction read+rewrite plans no
    // exchange
    val plan = spark.read.parquet(s"$root/small").coalesce(nOut)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("histogram: counts total to the corpus, buckets stay in range, " +
      "observed lo/hi nest inside the bucket edges, empty buckets absent") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val nb = 10
    val rows = Profile.histogram(docs, nb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum == docs.count())
    assert(rows.forall(t => t._1 >= 0 && t._1 < nb))
    // re-derive bucket edges driver-side; every row's observed min/max
    // must land in its bucket
    val (mn, mx) = docs.agg(min("n_chars"), max("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    def bucketOf(x: Long): Long = math.min((x - mn) * nb / (mx - mn + 1), nb - 1L)
    rows.foreach { case (b, _, lo, hi) =>
      assert(lo <= hi && bucketOf(lo) == b && bucketOf(hi) == b)
    }
    // buckets are strictly increasing (orderBy) with no duplicates
    assert(rows.map(_._1).toSeq == rows.map(_._1).distinct.sorted.toSeq)
  }

  test("dynamic partition overwrite rewrites ONLY the incoming partition: " +
      "other partitions keep their exact files, the target is replaced") {
    import spark.implicits._
    val tmp = tempDir("graft-ovw-spec")
    val base = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"),
      (4L, "fr", "d")).toDF("id", "lang", "src")
    base.write.mode("overwrite").partitionBy("lang").parquet(tmp)
    def files(p: String) = {
      val dir = new java.io.File(p)
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    val deBefore = files(s"$tmp/lang=de")
    val frBefore = files(s"$tmp/lang=fr")
    Seq((9L, "en", "patched")).toDF("id", "lang", "src")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(tmp)
    // untouched partitions: same file names, sizes, mtimes
    assert(files(s"$tmp/lang=de") == deBefore)
    assert(files(s"$tmp/lang=fr") == frBefore)
    // target partition fully replaced, others' rows intact
    val got = spark.read.parquet(tmp).select("id", "lang", "src")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((9L, "en", "patched"), (3L, "de", "c"), (4L, "fr", "d")))
  }

  test("heavyHitters ranks by count with the value tie-break and never " +
      "returns more than k rows per column") {
    val hh = Profile.heavyHitters(
      Tables.documents(spark, TestSpark.sf0001), Seq("lang", "source"), k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    hh.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.length <= 2, c)
      assert(rows.map(_._4).toSeq == (1L to rows.length).toSeq, c)
      // counts non-increasing in rank order
      assert(rows.sortBy(_._4).map(_._3).toSeq ==
        rows.map(_._3).sorted.reverse.toSeq, c)
    }
  }

  test("embedding outliers: one row per vector, z standardizes the " +
      "centroid distances (mean~0, sd~1), flag is exactly |z| >= 2, " +
      "both tails flagged at sf0.001") {
    val emb = graft.model.Tables.embeddings(spark, TestSpark.sf0001)
    val out = graft.SparkEntry.queries("profile_embedding_outliers")(
      spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.length == emb.count())
    out.foreach { case (_, dist, z, flag) =>
      assert(dist > 0)
      assert(flag == (math.abs(z) >= 2.0))
    }
    val zs = out.map(_._3)
    val mean = zs.sum / zs.length
    val sd = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum /
      (zs.length - 1))
    assert(math.abs(mean) < 0.01 && math.abs(sd - 1.0) < 0.01,
      s"mean=$mean sd=$sd")
    assert(zs.exists(_ >= 2.0) && zs.exists(_ <= -2.0))
  }
}
