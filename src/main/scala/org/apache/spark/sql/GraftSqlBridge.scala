package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into the `private[sql]` DataFrame and Column constructors, so
  * the library's custom logical operators (graft.plans.AsOfJoin) can be
  * surfaced as DataFrames, a ready-made Catalyst expression (the
  * pipeline's target-set literal, the native expressions behind the
  * typed builders in graft.functions) as a Column, a Column as the
  * expression it wraps, and a sort order's key ([[mapSortKey]]) —
  * the standard extension-library pattern for plugging a custom
  * LogicalPlan or Expression into a session without the function
  * registry. [[localCheckpointCounted]] and [[waitForListeners]] are
  * the other private uses. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `f` applied to what `c` sorts on: a sort order keeps its direction
    * and null ordering around `f` of its child; any other column is
    * `f(c)`. */
  def mapSortKey(c: Column, f: Column => Column): Column = c.node match {
    case so: internal.SortOrder => new Column(so.copy(child = f(new Column(so.child)).node))
    case _ => f(c)
  }

  /** `df.localCheckpoint()` (the same RDD checkpoint, storage level
    * and `LogicalRDD`) whose materializing job also counts each pinned
    * partition: the pin plus its row counts, in partition order, from
    * ONE job. */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Array[Long]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // every partition is stored by this job, so the checkpoint that
      // runJob takes when it ends runs no job of its own
      val counts = ds.sparkSession.sparkContext.runJob(rdd, (rows: Iterator[_]) => {
        var c = 0L
        while (rows.hasNext) { rows.next(); c += 1 }
        c
      })
      (ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), counts)
    }
  }

  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`), so a count a
    * listener keeps is complete when this returns. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
