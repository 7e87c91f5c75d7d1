package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Engine-side metrics sink (SURVEY.md §2.2 K4): the reference logs a
  * per-prediction latency CSV from inside the operator
  * (/root/reference/src/prediction_producer.py:229-238); the Spark-native
  * equivalent observes micro-batch progress out-of-band — input rows,
  * processed rows/s, batch duration — without touching the data path.
  * Per batch it also keeps Spark's `durationMs` breakdown (`addBatch`,
  * `queryPlanning`, `walCommit`, `commitOffsets`, `triggerExecution`,
  * ...) and the state held by the query's stateful operators (e.g. the
  * reorder buffer): rows and bytes summed over every state operator.
  * Attach with `spark.streams.addListener(listener)`.
  */
final class MetricsListener extends StreamingQueryListener {

  final case class BatchMetric(
      queryName: String, batchId: Long, numInputRows: Long,
      processedRowsPerSecond: Double, batchDurationMs: Long,
      durationMs: Map[String, Long], stateRowsTotal: Long, stateMemoryBytes: Long)

  private val metrics = mutable.ArrayBuffer.empty[BatchMetric]

  def snapshot: Seq[BatchMetric] = metrics.synchronized(metrics.toVector)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    metrics.synchronized {
      metrics += BatchMetric(
        Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
        p.processedRowsPerSecond, p.batchDuration,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}
