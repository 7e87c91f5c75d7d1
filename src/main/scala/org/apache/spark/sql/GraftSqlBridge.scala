package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge into the `private[sql]` DataFrame and Column constructors, so
  * the library's custom logical operators (graft.plans.AsOfJoin) can be
  * surfaced as DataFrames, a ready-made Catalyst expression (the
  * pipeline's target-set literal, the native expressions behind the
  * typed builders in graft.functions) as a Column, a Column as the
  * expression it wraps, and a sort order's key ([[mapSortKey]]) —
  * the standard extension-library pattern for plugging a custom
  * LogicalPlan or Expression into a session without the function
  * registry. [[localCheckpointCounted]], [[releasePin]] and
  * [[waitForListeners]] are the other private uses. */
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

  /** `df.localCheckpoint()` (the same RDD checkpoint and `LogicalRDD`),
    * stored at `level`, whose materializing job also measures each
    * pinned partition: its row count, or the sum of `weight` (a long
    * column; a null adds 0) over its rows. The pin plus its measures,
    * in partition order, from ONE job. [[releasePin]] drops its blocks. */
  def localCheckpointCounted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      weight: Option[Column] = None): (DataFrame, Array[Long]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.executedPlan
    val bound = weight.map { w =>
      val e = ds.select(w.cast("long")).queryExecution.analyzed.expressions.head
      BindReferences.bindReference(e, plan.output)
    }
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = plan.execute().map(_.copy())
      rdd.persist(level).localCheckpoint()
      // every partition is stored by this job, so the checkpoint that
      // runJob takes when it ends runs no job of its own
      val measures = ds.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val w = bound.map { e =>
            val p = UnsafeProjection.create(Seq(e))
            p.initialize(ctx.partitionId())
            p
          }
          var m = 0L
          while (rows.hasNext) {
            val row = rows.next()
            w match {
              case None => m += 1
              case Some(p) =>
                val v = p(row)
                if (!v.isNullAt(0)) m += v.getLong(0)
            }
          }
          m
        })
      (ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), measures)
    }
  }

  /** Drops the stored blocks of a pin [[localCheckpointCounted]]
    * returned (a DataFrame whose plan IS the pin's `LogicalRDD`; any
    * other plan is left alone); the pin cannot be read afterwards. */
  def releasePin(pin: DataFrame): Unit =
    pin.asInstanceOf[classic.Dataset[Row]].logicalPlan match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`), so a count a
    * listener keeps is complete when this returns. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
