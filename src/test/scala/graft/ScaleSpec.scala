package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Scale
import graft.model.Tables

class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("distributed id assignment equals the global-window form exactly") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(concat(col("source"), lit("/doc_"), col("doc_id"), lit(".txt")).as("path"))
    val viaWindow = docs
      .select(row_number().over(Window.orderBy("path")).cast("long").as("id"),
        col("path"))
      .as[(Long, String)].collect().sortBy(_._1)
    val viaRange = Scale.assignIdsByRange(docs, "path", partitions = 7)
      .select(col("id"), col("path"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(viaRange.toSeq == viaWindow.toSeq)
  }

  test("distributed ids are stable across partition counts") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(concat(lit("p"), col("doc_id")).as("path"))
    val a = Scale.assignIdsByRange(docs, "path", partitions = 3)
      .as[(Long, String)].collect().toSet
    val b = Scale.assignIdsByRange(docs, "path", partitions = 13)
      .as[(Long, String)].collect().toSet
    assert(a == b)
  }

  test("assignIdsByRange materializes the range-sort exactly once (not once per pass)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(concat(lit("scan/"), col("doc_id")).as("path"))
    val out = Scale.assignIdsByRange(docs, "path", partitions = 5)
    // full materialization of the id pass (the second consumer of the
    // sorted partitions — must hit the cache filled by the count pass)
    out.queryExecution.toRdd.count()
    val scans = Scale.lastSortScans.get.value
    assert(scans == 5, s"sorted partitions materialized $scans times, want 5")
  }

  test("assignIdsByRange registers nothing for session end: repeated " +
      "calls pin no sorted RDD until the session ends") {
    val docs = (1 to 100).map(i => s"k$i").toDF("key")
    val before = graft.ops.SessionCleanup.pending(spark)
    for (_ <- 1 to 3)
      assert(Scale.assignIdsByRange(docs, "key", partitions = 2).count() == 100L)
    assert(graft.ops.SessionCleanup.pending(spark) == before)
  }

  test("tokenize_vocab_ids' range-form vocab ids equal the global-window " +
      "form end-to-end") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = graft.ops.TermStats.tokenizeVocabIds(docs)
      .as[(Long, Long, String)].collect().toSeq
    // twin with the one-partition window vocab the operator replaced
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val vocab = toks.select("word").distinct()
      .withColumn("id",
        row_number().over(Window.orderBy("word")).cast("long"))
    val twin = toks.join(vocab, "word").groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id").cast("string"))).as("ids"))
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == twin)
  }

  test("salted join equals the plain join on skewed data") {
    // skew: one hot key with 5k rows, long tail of 100 keys
    val large = spark.range(5000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(100).select((col("id") + 2).as("k"), col("id").as("v")))
    val small = spark.range(101).select((col("id") + 1).as("k"),
      concat(lit("dim"), col("id")).as("name"))
    val plain = large.join(small, "k")
      .select("k", "v", "name").as[(Long, Long, String)].collect().sorted
    val salted = Scale.saltedJoin(large, small, "k", factor = 8)
      .select("k", "v", "name").as[(Long, Long, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 5000 + 100)
  }

  test("bucketed tables join without any exchange (co-located join)") {
    val c = Tables.customer(spark, TestSpark.sf0001)
    val o = Tables.orders(spark, TestSpark.sf0001)
    Scale.writeBucketed(c, "cust_b", "c_custkey", 8)
    Scale.writeBucketed(o.withColumnRenamed("o_custkey", "c_custkey"),
      "ord_b", "c_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("cust_b")
        .join(spark.table("ord_b"), "c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      // and it is still correct
      val expect = c.join(o, c("c_custkey") === o("o_custkey")).count()
      assert(joined.count() == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted count equals plain count") {
    val df = spark.range(10000)
      .select((when(col("id") % 10 === 0, 1).otherwise(col("id"))).as("k"))
    val plain = df.groupBy("k").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val salted = Scale.saltedCount(df, "k", factor = 8)
      .as[(Long, Long)].collect().toMap
    assert(salted == plain)
  }

  test("join_bloom_prune: the executed plan carries the runtime bloom " +
      "filter (bloom_filter_agg build + might_contain probe predicate), " +
      "and the shared session's conf is untouched") {
    val before = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val df = graft.SparkEntry.queries("join_bloom_prune")(
      spark, TestSpark.sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(800))
    assert(plan.contains("bloom_filter_agg"), plan.take(800))
    // results flow regardless of the filter
    assert(df.count() > 0)
    // conf isolation: the child session's thresholds never leak
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      == before)
  }

  test("binned interval-overlap join equals the naive theta join " +
      "(sf0.001), and the binning finds cross-boundary overlaps") {
    import org.apache.spark.sql.functions._
    // the registered key vs a Spark-computed naive theta over the same
    // session islands — engine-internal twin of the DuckDB oracle
    val binned = graft.SparkEntry.queries("join_interval_overlap")(
      spark, TestSpark.sf0001).as[(Long, Long, Long)].collect().toSet
    val se = graft.model.Tables.events(spark, TestSpark.sf0001)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("user_id"), col("t0"), col("t1"))
    val a = se.select(col("user_id").as("ua"), col("t0").as("a0"),
      col("t1").as("a1"))
    val b = se.select(col("user_id").as("ub"), col("t0").as("b0"),
      col("t1").as("b1"))
    val naive = a.crossJoin(b)
      .filter(col("ua") < col("ub") &&
        col("a0") <= col("b1") && col("b0") <= col("a1"))
      .groupBy(col("ua"), col("ub")).agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(binned == naive && binned.nonEmpty)
    // hand case: intervals overlapping ACROSS an hour boundary (each
    // covers 2 bins; overlap instant in different bins than the starts)
    val hand = Seq(
      (1L, "2024-01-01 00:50:00", "2024-01-01 01:10:00"),
      (2L, "2024-01-01 01:05:00", "2024-01-01 01:40:00"),
      (3L, "2024-01-01 03:00:00", "2024-01-01 03:10:00"))
      .toDF("user_id", "s", "e")
      .select(col("user_id"), col("s").cast("timestamp").as("t0"),
        col("e").cast("timestamp").as("t1"))
    val h0 = floor(unix_timestamp(col("t0")) / 3600).cast("long")
    val h1 = floor(unix_timestamp(col("t1")) / 3600).cast("long")
    val hb = hand.select(col("user_id"), col("t0"), col("t1"),
      explode(sequence(h0, h1)).as("bin"))
    val ha = hb.select(col("bin"), col("user_id").as("ua"),
      col("t0").as("a0"), col("t1").as("a1"))
    val hbb = hb.select(col("bin"), col("user_id").as("ub"),
      col("t0").as("b0"), col("t1").as("b1"))
    val pairs = ha.join(hbb, Seq("bin"))
      .filter(col("ua") < col("ub") &&
        col("a0") <= col("b1") && col("b0") <= col("a1"))
      .select("ua", "ub").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // the whole point of the binning: the physical plan is an EQUI hash
    // join on bin, never the naive theta's nested loop
    val plan = graft.SparkEntry.queries("join_interval_overlap")(
      spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
  }
}
