package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters.
  *
  * Spark 4 moved `Column` to a backend-agnostic ColumnNode representation;
  * building a Column from a custom Catalyst `Expression` goes through
  * `classic.ExpressionUtils`, which is `private[sql]`. This one-file shim
  * (the standard extension-library technique) re-exports the two
  * converters for graft's custom expressions.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a Catalyst expression builder,
    * so custom expressions are first-class in `spark.sql(...)` text. */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The materialized RDD behind a `localCheckpoint(true)`-produced
    * frame (its plan is one `LogicalRDD` scan), so iterative loops can
    * UNPERSIST a superseded checkpoint instead of waiting for the
    * driver GC + ContextCleaner to notice it — without this, a
    * thousands-of-batches training loop accumulates MEMORY_AND_DISK
    * copies of its base frame between GC cycles. None for any other
    * plan shape (callers must only release frames they checkpointed
    * themselves and no longer reference). */
  def checkpointRdd(df: Dataset[Row]): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.collectFirst {
      case r: execution.LogicalRDD => r.rdd
    }

  /** The files a file-source frame (`spark.read.format(...).load(...)`)
    * would scan, as the driver's file index already listed them when the
    * frame was built: the same `listFiles` call the scan plans its splits
    * from, so hidden/underscore names and anything else the source drops
    * are dropped here too. No job, no re-listing. None for any other plan
    * shape. */
  def listedFiles(df: Dataset[Row]): Option[Seq[org.apache.hadoop.fs.FileStatus]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.collectFirst {
      case execution.datasources.LogicalRelationWithTable(
          r: execution.datasources.HadoopFsRelation, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    }
}
