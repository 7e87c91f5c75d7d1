package perfbench

import java.util.IdentityHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. `parent` is the id of the span that caused it. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** Spans and counters for one traced run.
  *
  * The benchmark opens spans around its own calls into the program
  * (phase, pass, query build, query run, drain) and sets the local
  * property [[Trace.SpanKey]] while a span is open, so every Spark job
  * started from that call carries its parent's id. Jobs of streaming
  * micro-batches are linked through the batch id Spark itself puts in
  * the job's properties. Everything stays in memory until [[write]].
  *
  * An untraced run never constructs this class: no listener is attached.
  */
final class Trace(val cores: Int) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val events = new AtomicLong(0)

  // raw records; windows are cut from them by time when the run ends
  final case class TaskRec(endMs: Long, resultTask: Boolean, runMs: Long, cpuNs: Long,
      peakMem: Long, shufW: Long, shufR: Long, spill: Long, resultBytes: Long)
  final case class StageRec(endMs: Long, wallMs: Long, taskMs: Long)
  final case class JobRec(startMs: Long, parent: String)
  final case class PlanRec(endMs: Long, scanNs: Long, scanRows: Long, aggNs: Long)
  final case class BlockRec(atMs: Long, added: Boolean, disk: Long, storedAfter: Long)
  final case class BatchRec(startMs: Long, endMs: Long, queryName: String, batchId: Long,
      rows: Long, durations: Map[String, Long])

  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val blocks = mutable.ArrayBuffer.empty[BlockRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), Long]
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private val jobParent = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // streaming query id -> benchmark span id of the phase feeding it
  val streamParent = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def newId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"

  def add(s: Span): Unit = spans.synchronized(spans += s)

  /** Runs `body` inside a benchmark span; jobs it starts link to it. */
  def span[T](spark: SparkSession, kind: String, name: String, parent: String)(
      body: String => T): T = {
    val id = newId(kind.take(1))
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val t0 = Clock.epochMs
    try body(id)
    finally {
      sc.setLocalProperty(SpanKey, prev)
      add(Span(id, parent, kind, name, t0, Clock.epochMs))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    awaitQuiet()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until none has arrived
    * for a while so every event of the finished work is recorded. */
  def awaitQuiet(): Unit = {
    var last = -1L
    while (last != events.get()) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronizedEvent {
      val props = Option(e.properties)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      val parent = (batch, query) match {
        case (Some(b), Some(q)) => s"mb-$q-$b"
        case _ => props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      }
      jobParent(e.jobId) = parent
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs += JobRec(e.time, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronizedEvent {
      add(Span(s"j${e.jobId}", jobParent.getOrElse(e.jobId, ""), "job", s"job ${e.jobId}",
        jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronizedEvent {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      val taskMs = stageTaskMs.remove(key).getOrElse(0L)
      stages += StageRec(end, end - start, taskMs)
      add(Span(s"s${si.stageId}.${si.attemptNumber()}",
        stageJob.get(si.stageId).map(j => s"j$j").getOrElse(""), "stage", si.name,
        start.toDouble, end.toDouble, Map("tasks" -> si.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronizedEvent {
      val m = e.taskMetrics
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      val key = (e.stageId, e.stageAttemptId)
      stageTaskMs(key) = stageTaskMs.getOrElse(key, 0L) + dur
      if (m != null) tasks += TaskRec(info.finishTime, e.taskType == "ResultTask",
        m.executorRunTime, m.executorCpuTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.resultSize)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronizedEvent {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case _: RDDBlockId =>
          val key = b.blockId.name
          val size = b.memSize + b.diskSize
          val now = System.currentTimeMillis()
          if (b.storageLevel.isValid) {
            val isNew = !liveBlocks.contains(key)
            stored += size - liveBlocks.getOrElse(key, 0L)
            liveBlocks(key) = size
            blocks += BlockRec(now, isNew, if (isNew) b.diskSize else 0L, stored)
          } else {
            stored -= liveBlocks.remove(key).getOrElse(0L)
            blocks += BlockRec(now, added = false, 0L, stored)
          }
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronizedEvent {
        var scanNs, scanRows, aggNs = 0L
        planNodes(qe.executedPlan).foreach {
          case s: FileSourceScanExec =>
            s.metrics.get("scanTime").foreach(m => scanNs += m.value * 1000000L)
            s.metrics.get("numOutputRows").foreach(m => scanRows += m.value)
          case a: HashAggregateExec =>
            a.metrics.get("aggTime").foreach(m => aggNs += m.value * 1000000L)
          case a: ObjectHashAggregateExec =>
            a.metrics.get("aggTime").foreach(m => aggNs += m.value * 1000000L)
          case _ => ()
        }
        plans += PlanRec(System.currentTimeMillis(), scanNs, scanRows, aggNs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronizedEvent {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs
        val dur = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val durations = Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit",
          "commitOffsets", "getBatch", "latestOffset")
          .map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
        val qid = p.id.toString
        batches += BatchRec(start, start + dur, p.name, p.batchId, p.numInputRows, durations)
        add(Span(s"mb-$qid-${p.batchId}", Option(streamParent.get(qid)).getOrElse(""),
          "microbatch", s"${p.name} batch ${p.batchId}", start.toDouble, (start + dur).toDouble,
          Map("rows" -> p.numInputRows) ++ durations))
      }
  }

  private def synchronizedEvent(body: => Unit): Unit = {
    Trace.this.synchronized(body)
    events.incrementAndGet()
  }

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = {
    val lines = spans.synchronized(spans.sortBy(_.startMs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq)
    })
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Layer counters over the time window [from, to] (epoch ms). */
  def window(from: Long, to: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= from && t <= to
    val ts = tasks.filter(t => in(t.endMs))
    val st = stages.filter(s => in(s.endMs))
    val pl = plans.filter(p => in(p.endMs))
    val bl = blocks.filter(b => in(b.atMs))
    val mb = 1024.0 * 1024.0
    Map(
      "scheduler.jobs" -> jobs.count(j => in(j.startMs)).toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.idle_core_s" -> st.map(s => math.max(0L, cores * s.wallMs - s.taskMs)).sum / 1000.0,
      "scan.time_s" -> pl.map(_.scanNs).sum / 1e9,
      "scan.rows" -> pl.map(_.scanRows).sum.toDouble,
      "agg.time_s" -> pl.map(_.aggNs).sum / 1e9,
      "shuffle.write_mb" -> ts.map(_.shufW).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shufR).sum / mb,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "pins.blocks" -> bl.count(_.added).toDouble,
      "pins.stored_peak_mb" -> (if (bl.isEmpty) 0.0 else bl.map(_.storedAfter).max / mb),
      "pins.disk_write_mb" -> bl.map(_.disk).sum / mb,
      "driver.result_mb" -> ts.filter(_.resultTask).map(_.resultBytes).sum / mb,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.task_wait_s" -> ts.map(t => math.max(0.0, t.runMs / 1000.0 - t.cpuNs / 1e9)).sum,
      "exec.peak_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb))
  }

  /** Jobs whose parent is a micro-batch of the given streaming query. */
  def jobsOfBatches(queryId: String, batchIds: Set[Long]): Int = synchronized {
    jobs.count(j => batchIds.exists(b => j.parent == s"mb-$queryId-$b"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Every physical node of an executed plan, through adaptive query
    * stages and subqueries, each node once. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = new IdentityHashMap[SparkPlan, Unit]()
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => out += q; visit(q.plan)
        case _: ReusedExchangeExec => out += p
        case _ =>
          out += p
          p.children.foreach(visit)
          p.subqueries.foreach(visit)
      }
    }
    visit(root)
    out.toSeq
  }
}

/** Epoch-aligned monotonic clock: span times are epoch milliseconds, as
  * Spark's own event times are, but taken from nanoTime. */
object Clock {
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
  def epochMs: Double = System.nanoTime() / 1e6 - nanoOffsetMs
}
