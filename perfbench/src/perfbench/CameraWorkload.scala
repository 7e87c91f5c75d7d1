package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KafkaIO, SauronPipeline}

/** The paper's topology: seeded synthetic frames from several cameras go
  * through `SauronPipeline.process` (stub model, broadcast match,
  * routing) on a `MemoryStream` to a collecting sink.
  *
  * Phases, in order:
  *  1. set-up (session, target set with planted faces, stream started),
  *     timed from JVM start;
  *  2. pre-roll: `PrerollRounds` rounds of one second's frames are pushed
  *     through the live stream, so that the live phase does not start on
  *     a cold pipeline;
  *  3. live: one generator thread offers every camera's next frame on a
  *     fixed schedule (an open loop) to a stream paced by
  *     `KafkaIO.pacedTrigger`; each frame is stamped with its due time and
  *     its latency runs from that time until the sink has collected it.
  *     The first `LiveWarmupS` seconds are not measured;
  *  4. drain: a second stream on the same pipeline, without pacing, is
  *     handed a fixed backlog of frames at once, repeatedly; the first
  *     drain is a warm-up;
  *  5. checks: every frame reached the sink exactly once, correctly keyed
  *     and routed; planted frames name their target; no other frame does.
  */
final class CameraWorkload(a: Main.Args, trace: Option[Trace]) {
  type Frame = (Int, Long, Timestamp, Array[Byte], String, Seq[Int])

  import CameraWorkload._

  private val seed = a.seed
  private val frameBytes = FrameKb * 1024
  // at least `live-min-frames` (1000) measured frames, so that ten lie
  // beyond the p99
  private val liveMeasure = math.max(a.seconds * LiveShare,
    math.ceil(a.double("live-min-frames") / (Fps * Cameras)) + 1.0)
  private val drainBudget = a.seconds - a.seconds * LiveShare
  private val liveTicks = ((LiveWarmupS + liveMeasure) * Fps).toInt
  private val preTicks = PrerollRounds * Fps
  // frame numbers, per camera: pre-roll, then live, then the drains
  private val drainBase = preTicks.toLong + liveTicks
  private val perDrain = Backlog / Cameras
  private val prefix = "predicted_object_raw_frame_topic"

  /** Frame payload: a pure function of (seed, camera, frame number). */
  def payload(camera: Int, num: Long): Array[Byte] = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (camera.toLong << 48) ^ num)
    val b = new Array[Byte](frameBytes)
    var i = 0
    while (i < frameBytes) {
      var v = r.nextLong()
      var j = 0
      while (j < 8 && i < frameBytes) { b(i) = v.toByte; v >>>= 8; i += 1; j += 1 }
    }
    b
  }

  private def frame(camera: Int, num: Long, dueMicros: Long): Frame = {
    val ts = Timestamp.from(java.time.Instant.EPOCH.plusNanos(dueMicros * 1000L))
    (camera, num, ts, payload(camera, num), "|u1", Seq(frameBytes / 3 / 400, 400, 3))
  }

  final case class Target(id: Long, name: String, enc: Seq[Double])
  final case class SinkRow(key: String, topic: String, prediction: String, camera: Int,
      num: Long, dueMicros: Long, arrivalMicros: Long, programLatencyS: Double)

  private val sinkRows = new ConcurrentLinkedQueue[SinkRow]()
  private val sinkCount = new AtomicLong(0)
  // (query name, batch id, collect ms, arrival epoch ms)
  private val collects = new ConcurrentLinkedQueue[(String, Long, Double, Double)]()

  /** Planted targets are the first faces of frames drawn from every
    * phase; the rest are random vectors far beyond the tolerance (stub
    * encodings lie in [-1, 1], these in [2, 3] on every axis). */
  private def targets(spark: SparkSession): (Seq[Target], Map[(Int, Long), String]) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val drainFrames = MaxDrains.toLong * perDrain
    val pool = drainBase + drainFrames
    val candidates = Iterator.continually((rng.nextInt(Cameras), (rng.nextDouble() * pool).toLong))
      .distinct.take(2 * Planted).toSeq
    val df = candidates.map { case (c, n) => frame(c, n, 0L) }
      .toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val firstFaces = SauronPipeline.detectStage(df)
      .filter(size(col("faces")) > 0)
      .select(col("camera"), col("frame_num"), col("faces").getItem(0).getField("enc"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    val planted = candidates.filter(firstFaces.contains).take(Planted)
    val ids = rng.shuffle((0 until Targets).toList)
    val plantedTargets = planted.zip(ids).map { case (f, id) =>
      Target(id.toLong, s"person_$id", firstFaces(f)) }
    val randomTargets = ids.drop(planted.size).map { id =>
      Target(id.toLong, s"person_$id", Seq.fill(64)(2.0 + rng.nextDouble())) }
    val all = (plantedTargets ++ randomTargets).sortBy(_.id)
    (all, planted.zip(plantedTargets.map(_.name)).toMap)
  }

  private def start(spark: SparkSession, name: String, targetSet: Seq[Target],
      paced: Boolean): (MemoryStream[Frame], StreamingQuery) = {
    import spark.implicits._
    val input = MemoryStream[Frame](a.cores)(implicitly[Encoder[Frame]], spark.sqlContext)
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targetDf = targetSet.map(t => (t.id, t.name, t.enc)).toDF("t_id", "t_name", "t_enc")
    val out = SauronPipeline.process(frames, targetDf, Tolerance)
    val writer = out.writeStream
      .queryName(name)
      .option("checkpointLocation", s"${a.out}/checkpoints/$name")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = Clock.epochMs
        val rows = batch.select("key", "topic", "prediction", "camera", "frame_num", "ts",
          "latency_s").collect()
        val t1 = Clock.epochMs
        val arrival = (t1 * 1000).toLong
        rows.foreach { r =>
          val due = r.getTimestamp(5).toInstant
          sinkRows.add(SinkRow(r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
            r.getLong(4), due.getEpochSecond * 1000000L + due.getNano / 1000, arrival,
            r.getDouble(6)))
        }
        sinkCount.addAndGet(rows.length)
        collects.add((name, batchId, t1 - t0, t1))
        ()
      }
    val trigger = if (paced) KafkaIO.pacedTrigger(TriggerMs) else None
    (input, trigger.map(writer.trigger).getOrElse(writer).start())
  }

  def run(): Map[String, Any] = {
    val spark = Session.build(a)
    val (targetSet, planted) = targets(spark)
    val (liveInput, liveQuery) = start(spark, "live", targetSet, paced = true)
    val setupS = Session.sinceJvmStart
    trace.foreach(_.attach(spark))
    def phase[T](name: String, query: Option[StreamingQuery])(body: String => T): T =
      trace match {
        case Some(t) => t.span(spark, "phase", name, "") { id =>
          query.foreach(q => t.streamParent.put(q.id.toString, id))
          body(id)
        }
        case None => body("")
      }

    // ---- live phase: open loop at a fixed frame rate
    val periodMs = 1000.0 / Fps
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlogFrames = mutable.ArrayBuffer.empty[Long]
    var liveT0 = 0.0
    phase("preroll", Some(liveQuery)) { _ =>
      for (r <- 0 until preTicks by Fps) {
        val now = (Clock.epochMs * 1000).toLong
        liveInput.addData(for (k <- r until r + Fps; c <- 0 until Cameras)
          yield frame(c, k.toLong, now))
        liveQuery.processAllAvailable()
      }
    }
    val gc0 = Host.gcSeconds
    val cpu0 = Host.processCpuSeconds
    phase("live", Some(liveQuery)) { _ =>
      val generator = new Thread(() => {
        liveT0 = Clock.epochMs + 50
        var added = sinkCount.get()
        for (k <- 0 until liveTicks) {
          val due = liveT0 + k * periodMs
          val wait = due - Clock.epochMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val dueMicros = (due * 1000).toLong
          liveInput.addData((0 until Cameras).map(c => frame(c, preTicks + k.toLong, dueMicros)))
          added += Cameras
          if (due >= liveT0 + LiveWarmupS * 1000) {
            lateMs += Clock.epochMs - due
            backlogFrames += added - sinkCount.get()
          }
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
      liveQuery.processAllAvailable()
    }
    val liveEnd = Clock.epochMs
    val liveMeasureFrom = liveT0 + LiveWarmupS * 1000
    val liveRows = sinkRows.asScala.toSeq
    val measuredLive = liveRows.filter(r => r.dueMicros >= (liveMeasureFrom * 1000).toLong)
    val latencies = measuredLive.map(r => (r.arrivalMicros - r.dueMicros) / 1000.0)
    val liveBatches = collects.asScala.filter { case (q, _, _, at) => q == "live" && at >= liveMeasureFrom }
    // the live micro-batches' own durations, from the query's progress
    // reports: the per-micro-batch cost apart from the time frames wait
    // for their trigger
    val liveTriggerMs = liveQuery.recentProgress.toSeq.filter(p => p.numInputRows > 0 &&
      java.time.Instant.parse(p.timestamp).toEpochMilli >= liveMeasureFrom)
      .map(_.durationMs.get("triggerExecution").doubleValue)
    val gcLive = Host.gcSeconds - gc0
    val cpuLive = Host.processCpuSeconds - cpu0
    liveQuery.stop()

    // ---- drain phase: a fixed backlog through the same pipeline, unpaced
    val (drainInput, drainQuery) = start(spark, "drain", targetSet, paced = false)
    val drains = mutable.ArrayBuffer.empty[Double]
    phase("drain", Some(drainQuery)) { id =>
      val t0 = System.nanoTime()
      var d = 0
      while (d < MaxDrains && (d <= a.int("min-drains") ||
          (System.nanoTime() - t0) / 1e9 < drainBudget)) {
        val first = drainBase + d.toLong * perDrain
        val batch = for (n <- first until first + perDrain; c <- 0 until Cameras)
          yield frame(c, n, (Clock.epochMs * 1000).toLong)
        def one(): Unit = {
          drainInput.addData(batch)
          val s0 = Clock.epochMs
          drainQuery.processAllAvailable()
          val done = collects.asScala.filter(_._1 == "drain").map(_._4).max
          if (d > 0) drains += (done - s0) / 1000.0
        }
        trace match {
          case Some(t) => t.span(spark, "drain", s"drain $d", id)(_ => one())
          case None => one()
        }
        d += 1
      }
    }
    drainQuery.stop()

    // ---- checks
    val rows = sinkRows.asScala.toSeq
    val expected = for (n <- 0L until drainBase + (drains.size + 1L) * perDrain;
      c <- 0 until Cameras) yield s"${c}_$n"
    val byKey = rows.groupBy(_.key)
    val names = targetSet.map(_.name).toSet
    val plantedByKey = planted.map { case ((c, n), name) => s"${c}_$n" -> name }
    val plantedSeen = plantedByKey.keySet.intersect(byKey.keySet)
    val checks = Seq(
      check("exactly_once", rows.size == expected.size && byKey.size == expected.size &&
        byKey.keySet == expected.toSet,
        s"${rows.size} rows, ${byKey.size} keys, ${expected.size} frames generated"),
      check("keyed_and_routed", rows.forall(r =>
        r.topic == s"${prefix}_${r.camera}" && r.key == s"${r.camera}_${r.num}"),
        "topic predicted_object_raw_frame_topic_<camera>, key <camera>_<frame_num>"),
      check("planted_predicted", plantedSeen.nonEmpty &&
        plantedSeen.forall(k => byKey(k).forall(_.prediction == plantedByKey(k))),
        s"${plantedSeen.size} planted frames reached the sink"),
      check("no_false_match", rows.forall(r => plantedByKey.contains(r.key) ||
        r.prediction == null || !names.contains(r.prediction)),
        s"${names.size} targets, tolerance $Tolerance"))

    val drainS = Stats.median(drains.toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "work_s" -> Stats.median(liveTriggerMs) / 1000,
      "latency_p50_ms" -> Stats.median(latencies),
      "latency_p99_ms" -> Stats.quantile(latencies, 0.99),
      "drain_fps" -> Backlog / drainS)

    val layer = trace.map { t =>
      t.awaitQuiet()
      val lb = t.synchronized(t.batches.filter(b => b.queryName == "live" &&
        b.startMs >= liveMeasureFrom && b.rows > 0).toSeq)
      val db = t.synchronized(t.batches.filter(b => b.queryName == "drain" && b.rows > 0).toSeq)
      val nb = math.max(1, lb.size).toDouble
      def med(bs: Seq[t.BatchRec], f: t.BatchRec => Double) =
        if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
      val w = t.window(liveMeasureFrom.toLong, liveEnd.toLong).map { case (k, v) => k -> v / nb }
      val jobs = t.jobsOfBatches(liveQuery.id.toString, lb.map(_.batchId).toSet)
      t.detach(spark)
      w ++ Map(
        "jvm.gc_s" -> gcLive / nb,
        "jvm.process_cpu_s" -> cpuLive / nb,
        "stream.batches" -> lb.size.toDouble,
        "stream.frames_per_batch" -> med(lb, _.rows.toDouble),
        "stream.jobs_per_batch" -> jobs / nb,
        "stream.trigger_ms" -> med(lb, _.durations("triggerExecution").toDouble),
        "stream.add_batch_ms" -> med(lb, _.durations("addBatch").toDouble),
        "stream.planning_ms" -> med(lb, _.durations("queryPlanning").toDouble),
        "stream.commit_ms" -> med(lb, b => (b.durations("walCommit") + b.durations("commitOffsets")).toDouble),
        "drain.trigger_ms" -> med(db.drop(1), _.durations("triggerExecution").toDouble),
        "sink.collect_ms" -> Stats.median(liveBatches.map(_._3).toSeq),
        "gen.late_ms_max" -> lateMs.max,
        "gen.backlog_max_frames" -> backlogFrames.max.toDouble)
    }.getOrElse(Map.empty)
    spark.stop()

    Map(
      "attempted" -> expected.size,
      "failed" -> 0,
      "errors" -> Seq.empty[String],
      "checks" -> checks,
      "e2e" -> e2e,
      "layer" -> layer,
      "raw" -> Map(
        "setup_s" -> setupS,
        "drains_s" -> drains.toSeq,
        "live_frames_measured" -> latencies.size,
        "live_batches_measured" -> liveBatches.size,
        "live_trigger_ms" -> liveTriggerMs,
        "live_latency_p90_ms" -> Stats.quantile(latencies, 0.9),
        "program_latency_s_p50" -> Stats.median(measuredLive.map(_.programLatencyS)),
        "gen_late_ms_max" -> lateMs.max,
        "gen_backlog_max_frames" -> backlogFrames.max,
        "planted" -> planted.size))
  }

  private def check(name: String, ok: Boolean, detail: String): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** The make-up of `camera_stream`. */
object CameraWorkload {
  val Cameras = 6
  val Fps = 10
  val FrameKb = 32
  // 64 targets, of which up to 32 are first faces of generated frames
  val Targets = 64
  val Planted = 32
  val Tolerance = 0.6
  val TriggerMs = 1000
  // frames handed to the drain stream at once
  val Backlog = 1200
  val MaxDrains = 6
  val PrerollRounds = 2
  val LiveWarmupS = 1
  // share of `--seconds` given to the live phase; the drains get the rest
  val LiveShare = 0.75
}
