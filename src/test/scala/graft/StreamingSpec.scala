package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.VectorFunctions
import graft.streaming.{FrameEvent, FrameMessages, ReorderBuffer, SauronPipeline}

/** File-backed chunked-arrival plumbing shared by the kill-and-resume
  * tests: each chunk lands as one parquet file whose mtime forces the
  * file source's arrival order. */
private[graft] object RestartHarness {
  import scala.jdk.CollectionConverters._
  def rmTree(p: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => java.nio.file.Files.deleteIfExists(f))
  }
  def writeChunk(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, i: Int): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_rck_w$i")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val dest = dir.resolve(f"c$i%02d.parquet")
    java.nio.file.Files.move(part, dest)
    dest.toFile.setLastModified(60000L * (i + 1))
    rmTree(tmp)
  }
}

/** Streaming semantics (SURVEY.md §2.11): per-key reorder with bounded
  * state, watermarked windows on MemoryStream, and the full pipeline
  * topology batch + stream. */
class StreamingSpec extends SparkSuite {

  import spark.implicits._

  private def mkFrames(n: Int, cameras: Int) = {
    val rows = (0 until n).map { i =>
      (i % cameras, i.toLong / cameras,
        new Timestamp(1700000000000L + i * 33L),
        s"framebytes_${i % cameras}_${i / cameras}".getBytes("UTF-8"),
        "|u1", Seq(2, 2, 3))
    }
    rows.toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
  }

  test("wire serde round-trips frame messages (P2/P3/P4/P11)") {
    val frames = mkFrames(12, 3)
    val wire = FrameMessages.toWire(frames)
    assert(wire.columns.toSeq == Seq("key", "value"))
    assert(wire.filter(col("key") === "1_2").count() == 1)
    val back = FrameMessages.fromWire(wire)
    val orig = frames.select("camera", "frame_num", "ts", "frame").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2), new String(r.getAs[Array[Byte]](3)))).toSet
    val round = back.select("camera", "frame_num", "ts", "frame").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2), new String(r.getAs[Array[Byte]](3)))).toSet
    assert(round == orig)
  }

  test("pipeline batch: detect -> broadcast match -> predict with routing") {
    val frames = mkFrames(30, 3)
    // derive target encodings from the stub detector itself so some
    // frames match exactly (distance 0)
    val detected = SauronPipeline.detectStage(frames)
    val someFaces = detected.select(col("camera"), explode(col("faces")).as("f"))
      .select(col("f.enc").as("t_enc")).limit(2)
      .withColumn("t_id", monotonically_increasing_id())
      .withColumn("t_name", concat(lit("person_"), col("t_id")))
    val out = SauronPipeline.process(frames, someFaces, tolerance = 0.001)
    val rows = out.collect()
    assert(rows.length == 30)
    val matched = out.filter(col("prediction").startsWith("person_")).count()
    assert(matched >= 1, "at least the frames whose faces seeded the targets must match")
    val unknown = out.filter(col("prediction") === "Unknown").count()
    assert(unknown >= 1, "non-seeded faces must fall back to Unknown")
    assert(out.filter(col("topic") === "predicted_object_raw_frame_topic_2").count() == 10)
    assert(out.filter(col("prediction").isNull).count() ==
      out.filter(size(col("annotations")) === 0).count())
    // the stub detector yields 0 faces for ~1/3 of frames (hash mod 3);
    // those frames MUST have empty annotations and a null prediction
    val faceless = SauronPipeline.detectStage(frames)
      .filter(size(col("faces")) === 0).count()
    assert(faceless >= 1, "test corpus should include zero-face frames")
    assert(out.filter(col("prediction").isNull).count() == faceless)
  }

  test("pipeline streaming: same topology on MemoryStream, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targets = Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
    val out = SauronPipeline.process(frames, targets, tolerance = 0.5)
    val q = out.writeStream.format("memory").queryName("pipe_out")
      .outputMode("append").start()
    input.addData((0, 0L, new Timestamp(1700000000000L), "abc".getBytes, "|u1", Seq(1)),
                  (1, 0L, new Timestamp(1700000000100L), "def".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pipe_out")
    assert(got.count() == 2)
    assert(got.filter(col("topic") === "predicted_object_raw_frame_topic_1").count() == 1)
  }

  test("pipeline streaming: one Spark job per micro-batch and no exchange in the plan") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution,
      StreamExecution, StreamingQueryWrapper}
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targets = Seq((1L, "person_1", Seq.fill(64)(0.0)), (0L, "person_0", Seq.fill(64)(0.5)))
      .toDF("t_id", "t_name", "t_enc")
    val out = SauronPipeline.process(frames, targets, tolerance = 0.5)
    val q = out.writeStream.format("memory").queryName("pipe_jobs_out")
      .outputMode("append").start()
    val jobsByBatch = scala.collection.mutable.Map.empty[Long, Int]
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p.getProperty(StreamExecution.QUERY_ID_KEY) == q.id.toString) {
          val b = p.getProperty(MicroBatchExecution.BATCH_ID_KEY).toLong
          jobsByBatch.synchronized(jobsByBatch(b) = jobsByBatch.getOrElse(b, 0) + 1)
        }
        if (p.getProperty("spark.jobGroup.id") == "pipe_jobs_marker") markerSeen = true
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (b <- 0 until 3) {
        input.addData((0 until 6).map(c =>
          (c, b.toLong, new Timestamp(1700000000000L + b * 100L), s"f$c-$b".getBytes, "|u1", Seq(1))))
        q.processAllAvailable()
      }
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      q.stop()
      // the helper also looks inside adaptive plans and their query stages
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      assert(aqe.find(plan)(_.isInstanceOf[Exchange]).isEmpty, s"exchange in the plan:\n$plan")
      // listener events arrive in order: once a later marker job is seen,
      // every micro-batch job before it has been counted
      spark.sparkContext.setJobGroup("pipe_jobs_marker", "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      var tries = 0
      while (!markerSeen && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(markerSeen)
      val counts = jobsByBatch.synchronized(jobsByBatch.toMap)
      assert(counts.size == 3 && counts.values.forall(_ == 1), s"jobs per batch: $counts")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.table("pipe_jobs_out").count() == 18)
  }

  test("target set: lowest t_id wins a tie, an empty set predicts Unknown") {
    val originModel: SauronPipeline.FaceModel = _ => array(struct(
      array(lit(0), lit(0), lit(0), lit(0)).as("box"),
      array(Seq.fill(64)(lit(0.0)): _*).as("enc")))
    def predictions(targets: Seq[(Long, String, Seq[Double])]) =
      SauronPipeline.process(mkFrames(4, 2), targets.toDF("t_id", "t_name", "t_enc"),
        tolerance = 0.5, model = originModel)
        .select("prediction").collect().map(_.getString(0)).toSet
    val origin = Seq.fill(64)(0.0)
    // given out of id order: 7 and 3 both match, 1 does not
    assert(predictions(Seq((7L, "a", origin), (3L, "b", origin), (1L, "c", Seq.fill(64)(2.0))))
      == Set("b"))
    assert(predictions(Seq.empty) == Set("Unknown"))
  }

  test("predict_time is stamped per row after matching, not once per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.catalyst.expressions.CurrentTimestamp
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.plans.StampAfter
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targets = Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
    // a model that takes 200 ms per frame: each frame's latency must
    // include it, which a stamp fixed when the batch starts leaves out
    val slow = udf { (_: Array[Byte]) => Thread.sleep(200); true }
    val slowModel: SauronPipeline.FaceModel = f => when(slow(f), array(struct(
      array(lit(0), lit(0), lit(0), lit(0)).as("box"),
      array(Seq.fill(64)(lit(0.0)): _*).as("enc"))))
    val out = SauronPipeline.process(frames, targets, tolerance = 0.5, model = slowModel)
    assert(!out.queryExecution.analyzed.flatMap(_.expressions)
      .exists(_.exists(_.isInstanceOf[CurrentTimestamp])))
    val q = out.writeStream.format("memory").queryName("stamp_out")
      .outputMode("append").start()
    val now = new Timestamp(System.currentTimeMillis())
    input.addData((0, 0L, now, "a".getBytes, "|u1", Seq(1)), (1, 0L, now, "b".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    assert(aqe.flatMap(plan)(_.expressions).exists(_.exists(_.isInstanceOf[StampAfter])),
      s"no per-row stamp in:\n$plan")
    val got = spark.table("stamp_out").select("prediction", "ts", "predict_time", "latency_s").collect()
    assert(got.length == 2 && got.forall(_.getString(0) == "person_0"))
    got.foreach { r =>
      assert(!r.getTimestamp(2).before(r.getTimestamp(1)), s"predict_time before ts: $r")
      assert(r.getDouble(3) >= 0.2, s"latency leaves out the row's own matching: $r")
    }
  }

  test("pluggable model slot: a swapped model changes the pipeline's predictions (P8)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targets = Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
    // a second "model": every frame has exactly one face at the origin
    // encoding — under the zero-vector target every frame must match
    val originModel: SauronPipeline.FaceModel = _ => array(struct(
      array(lit(0), lit(0), lit(0), lit(0)).as("box"),
      array(Seq.fill(64)(lit(0.0)): _*).as("enc")))
    val out = SauronPipeline.process(frames, targets, tolerance = 0.5,
      model = originModel)
    val q = out.writeStream.format("memory").queryName("swapped_model_out")
      .outputMode("append").start()
    input.addData((0, 0L, new Timestamp(1700000000000L), "abc".getBytes, "|u1", Seq(1)),
                  (1, 0L, new Timestamp(1700000000100L), "def".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("swapped_model_out")
    assert(got.count() == 2)
    assert(got.filter(col("prediction") === "person_0").count() == 2,
      "with the origin model every frame must predict person_0")
    // the default stub model does NOT predict person_0 for these frames
    // (its encodings are hash-derived, far from the origin)
    val stubOut = SauronPipeline.process(
      mkFrames(2, 2), targets, tolerance = 0.5)
    assert(stubOut.filter(col("prediction") === "person_0").count() == 0)
  }

  test("partition-wise batched detect is bit-identical to the column-expression stub") {
    val frames = mkFrames(30, 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(col("camera"), col("frame_num"), col("faces"))))
        .collect().map(_.getString(0)).sorted.toSeq
    val columnForm = canon(SauronPipeline.detectStage(frames))
    val batchedForm = canon(SauronPipeline.detectStageBatched(frames, batchSize = 7))
    assert(columnForm == batchedForm)
    // and the batched form drives the full predict stage identically
    val targets = {
      import spark.implicits._
      Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
    }
    val viaBatched = SauronPipeline.predictStage(
      SauronPipeline.detectStageBatched(frames), targets, tolerance = 0.5)
    val viaColumns = SauronPipeline.predictStage(
      SauronPipeline.detectStage(frames), targets, tolerance = 0.5)
    assert(viaBatched.select(col("camera"), col("frame_num"), col("prediction"))
        .collect().map(_.toString).sorted.toSeq ==
      viaColumns.select(col("camera"), col("frame_num"), col("prediction"))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("native xxhash stub kernel is bit-identical to the Column form, schema included") {
    val rng = new scala.util.Random(7)
    val bytes: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray, Array.emptyByteArray) ++
      (1 to 300).map(_ => Array.fill(rng.nextInt(96) + 1)(rng.nextInt(256).toByte)) ++
      (1 to 4).map(_ => Array.fill(32 * 1024)(rng.nextInt(256).toByte))
    val frames = bytes.zipWithIndex.map { case (b, i) => (i, b) }.toDF("id", "frame")
    for (dim <- Seq(1, 16, 64)) {
      val native = frames.select(col("id"), SauronPipeline.stubDetect(col("frame"), dim).as("faces"))
      val columns = frames.select(col("id"),
        SauronPipeline.stubDetectColumns(col("frame"), dim).as("faces"))
      // StructField equality covers dataType (containsNull included) and nullable
      assert(native.schema == columns.schema, s"dim $dim")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), size(col("faces")), to_json(col("faces"))).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
      val got = canon(native)
      assert(got == canon(columns), s"dim $dim")
      // a null frame gives [], not null; the corpus has faceless frames
      // and two-face frames, whose encodings are `dim` long
      assert(got.head == ((0, 0, "[]")))
      assert(got.count(_._2 == 0) > 1 && got.count(_._2 == 2) > 0)
      val enc = native.filter(size(col("faces")) > 0)
        .select(size(col("faces").getItem(0).getField("enc"))).distinct().collect()
      assert(enc.map(_.getInt(0)).toSeq == Seq(dim))
    }
  }

  test("the camera pipeline never writes to the session's function registry") {
    import graft.streaming.RefreshableTargets
    // a new session holds only the built-in functions, so any name the
    // pipeline registered would show up in its listing; the stream runs
    // each batch on a clone of it, whose registry the sink lists
    val s2 = spark.newSession()
    implicit val sqlCtx = s2.sqlContext
    def listing(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.listFunction().map(_.unquotedString).sorted
    val before = listing(s2)
    val cols = Seq("camera", "frame_num", "ts", "frame", "dtype", "shape")
    def rows(b: Int) = (0 until 6).map(c =>
      (c, b.toLong, new Timestamp(1700000000000L + b * 100L), s"f$c-$b".getBytes, "|u1", Seq(1)))
    val targets = s2.createDataset(Seq((0L, "person_0", Seq.fill(64)(0.0))))
      .toDF("t_id", "t_name", "t_enc")
    assert(SauronPipeline.process(s2.createDataset(rows(0)).toDF(cols: _*), targets, 0.5)
      .collect().length == 6)
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val q = RefreshableTargets.writer(input.toDF().toDF(cols: _*),
      loadTargets = _ => targets, tolerance = 0.5, refreshMs = 0L,
      sink = (df, _) => { df.collect(); seen.add(listing(df.sparkSession)) }).start()
    for (b <- 1 to 2) {
      input.addData(rows(b))
      q.processAllAvailable()
    }
    q.stop()
    def unchanged(l: Seq[String]): Unit = {
      val (added, dropped) = (l.diff(before), before.diff(l))
      assert(added.isEmpty && dropped.isEmpty)
    }
    assert(seen.size == 2)
    seen.forEach(l => unchanged(l))
    unchanged(listing(s2))
  }

  test("refreshable targets: a target set updated mid-stream matches later frames (J4)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.RefreshableTargets
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    // the mutable "target_face_topic": starts empty, UI adds a face later
    @volatile var targetRows: Seq[(Long, String, Seq[Double])] = Seq.empty
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val originModel: SauronPipeline.FaceModel = _ => array(struct(
      array(lit(0), lit(0), lit(0), lit(0)).as("box"),
      array(Seq.fill(64)(lit(0.0)): _*).as("enc")))
    val writer = RefreshableTargets.writer(
      frames,
      loadTargets = s => { import s.implicits._
        targetRows.toDF("t_id", "t_name", "t_enc") },
      tolerance = 0.5, refreshMs = 0L,
      sink = (df, _) => results.synchronized {
        results ++= df.select(col("frame_num"), coalesce(col("prediction"), lit("none")))
          .collect().map(r => (r.getLong(0), r.getString(1)))
      },
      model = originModel)
    val q = writer.start()
    input.addData((0, 0L, new Timestamp(1700000000000L), "a".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    targetRows = Seq((0L, "person_0", Seq.fill(64)(0.0))) // UI publishes a query face
    input.addData((0, 1L, new Timestamp(1700000001000L), "b".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    q.stop()
    val byFrame = results.toMap
    assert(byFrame(0L) == "Unknown", s"pre-publish frame must not match: $results")
    assert(byFrame(1L) == "person_0", s"post-publish frame must match the new target: $results")
  }

  test("refreshable targets: loader runs once per refresh window, not once per batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.RefreshableTargets
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var targetRows: Seq[(Long, String, Seq[Double])] =
      Seq((0L, "person_0", Seq.fill(64)(0.0)))
    val originModel: SauronPipeline.FaceModel = _ => array(struct(
      array(lit(0), lit(0), lit(0), lit(0)).as("box"),
      array(Seq.fill(64)(lit(0.0)): _*).as("enc")))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val writer = RefreshableTargets.writer(
      frames,
      loadTargets = s => { import s.implicits._
        loads.incrementAndGet()
        targetRows.toDF("t_id", "t_name", "t_enc") },
      tolerance = 0.5, refreshMs = Long.MaxValue / 2, // never refresh again
      sink = (df, _) => results.synchronized {
        results ++= df.select(col("frame_num"), coalesce(col("prediction"), lit("none")))
          .collect().map(r => (r.getLong(0), r.getString(1)))
      },
      model = originModel)
    val q = writer.start()
    input.addData((0, 0L, new Timestamp(1700000000000L), "a".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    // mid-window mutation must NOT be visible (the set is pinned), and
    // the loader must not run again for subsequent batches
    targetRows = Seq.empty
    input.addData((0, 1L, new Timestamp(1700000001000L), "b".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    input.addData((0, 2L, new Timestamp(1700000002000L), "c".getBytes, "|u1", Seq(1)))
    q.processAllAvailable()
    q.stop()
    assert(loads.get() == 1, s"loader ran ${loads.get()} times for 3 batches in one window")
    val byFrame = results.toMap
    assert(byFrame(1L) == "person_0" && byFrame(2L) == "person_0",
      s"mid-window batches must reuse the pinned target set: $results")
  }

  test("reorder buffer emits frames in order per camera, drops late frames") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FrameEvent]
    val out = ReorderBuffer.reorder(input.toDS(), emitThreshold = 3, maxBuffer = 100)
    val q = out.writeStream.format("memory").queryName("reorder_out")
      .outputMode("append").start()
    // out-of-order arrival on camera 0; camera 1 interleaved
    input.addData(
      FrameEvent(0, 2, 1000, "c0f2"), FrameEvent(0, 0, 1000, "c0f0"),
      FrameEvent(1, 1, 1000, "c1f1"), FrameEvent(0, 1, 1000, "c0f1"),
      FrameEvent(0, 3, 1000, "c0f3"), FrameEvent(1, 0, 1000, "c1f0"),
      FrameEvent(1, 2, 1000, "c1f2"))
    q.processAllAvailable()
    // second batch: more frames + a LATE frame (0) that must be dropped
    input.addData(
      FrameEvent(0, 5, 2000, "c0f5"), FrameEvent(0, 0, 2000, "late"),
      FrameEvent(0, 4, 2000, "c0f4"), FrameEvent(0, 6, 2000, "c0f6"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("reorder_out").as[FrameEvent].collect()
    val c0 = got.filter(_.camera == 0).map(_.frameNum).toSeq
    assert(c0 == c0.sorted, s"camera 0 out of order: $c0")
    assert(!got.exists(_.payload == "late"), "late frame must be dropped")
    val c1 = got.filter(_.camera == 1).map(_.frameNum).toSeq
    assert(c1 == c1.sorted)
  }

  test("watermark-driven reorder drains a camera once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.FrameEventTs
    val input = MemoryStream[FrameEventTs]
    val out = ReorderBuffer.reorderByWatermark(input.toDF(), latenessMs = 2000)
    val q = out.writeStream.format("memory").queryName("wm_reorder_out")
      .outputMode("append").start()
    val base = 1700000000000L
    def ev(cam: Int, fn: Long, offMs: Long) =
      FrameEventTs(cam, fn, new Timestamp(base + offMs), s"c${cam}f$fn")
    // camera 0 arrives out of order
    input.addData(ev(0, 2, 2000), ev(0, 0, 0), ev(0, 1, 1000))
    q.processAllAvailable()
    input.addData(ev(0, 3, 60000)) // advances watermark to +58s
    q.processAllAvailable()
    // two more batches so the watermark passes newest(cam0)+lateness
    input.addData(ev(1, 0, 120000))
    q.processAllAvailable()
    input.addData(ev(1, 1, 200000))
    q.processAllAvailable()
    q.stop()
    val c0 = spark.table("wm_reorder_out").as[FrameEventTs].collect()
      .filter(_.camera == 0).map(_.frameNum).toSeq
    assert(c0 == Seq(0L, 1L, 2L, 3L), s"camera 0 must drain in order, got $c0")
  }

  test("watermark reorder drops a straggler arriving after its camera drained") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.FrameEventTs
    val input = MemoryStream[FrameEventTs]
    val out = ReorderBuffer.reorderByWatermark(input.toDF(), latenessMs = 2000)
    val q = out.writeStream.format("memory").queryName("hwm_reorder_out")
      .outputMode("append").start()
    val base = 1700000000000L
    def ev(cam: Int, fn: Long, offMs: Long) =
      FrameEventTs(cam, fn, new Timestamp(base + offMs), s"c${cam}f$fn")
    input.addData(ev(0, 0, 0), ev(0, 1, 1000), ev(0, 2, 2000))
    q.processAllAvailable()
    input.addData(ev(1, 0, 60000)) // push watermark past cam0+lateness
    q.processAllAvailable()
    input.addData(ev(1, 1, 120000)) // cam0 timer fires -> frames 0-2 drain
    q.processAllAvailable()
    // straggler: frame 1 again, with a FRESH event time (so the
    // watermark pre-filter does NOT drop it) — only the persisted
    // high-water mark can reject it
    input.addData(ev(0, 1, 180000), ev(0, 3, 181000))
    q.processAllAvailable()
    input.addData(ev(1, 2, 300000)) // drain cam0's second buffer
    q.processAllAvailable()
    q.stop()
    val c0 = spark.table("hwm_reorder_out").as[FrameEventTs].collect()
      .filter(_.camera == 0).map(_.frameNum).toSeq
    assert(c0 == Seq(0L, 1L, 2L, 3L),
      s"post-drain straggler must be dropped, not re-emitted: got $c0")
  }

  test("full topology: pipeline predictions feed the ordered display path") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.FrameEventTs
    val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
    val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
    val targets = Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
    // predict stage -> display-path shape -> watermark reorder (O1/O2)
    val predictions = SauronPipeline.process(frames, targets, tolerance = 0.5)
      .select(col("camera").cast("int").as("camera"),
        col("frame_num").as("frameNum"),
        col("ts").as("ets"),
        coalesce(col("prediction"), lit("none")).as("payload"))
    val replay = ReorderBuffer.reorderByWatermark(predictions, latenessMs = 1000)
    val q = replay.writeStream.format("memory").queryName("topo_out")
      .outputMode("append").start()
    val base = 1700000000000L
    def frame(cam: Int, fn: Long, offMs: Long) =
      (cam, fn, new Timestamp(base + offMs), s"f$cam-$fn".getBytes, "|u1", Seq(1))
    input.addData(frame(0, 1, 500), frame(0, 0, 0), frame(0, 2, 900))
    q.processAllAvailable()
    input.addData(frame(0, 3, 30000)) // push watermark
    q.processAllAvailable()
    input.addData(frame(1, 0, 60000))
    q.processAllAvailable()
    input.addData(frame(1, 1, 90000))
    q.processAllAvailable()
    q.stop()
    val c0 = spark.table("topo_out").as[FrameEventTs].collect()
      .filter(_.camera == 0).map(_.frameNum).toSeq
    assert(c0 == Seq(0L, 1L, 2L, 3L),
      s"display path must replay camera 0 in frame order, got $c0")
  }

  test("streaming dedup drops repeated content within the watermark (F3)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val deduped = graft.operators.Dedup.streamingDedup(
      input.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val base = 1700000000000L
    input.addData(
      (new Timestamp(base), "frame A"), (new Timestamp(base + 100), "frame A"),
      (new Timestamp(base + 200), "frame B"), (new Timestamp(base + 300), "frame A"))
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("dedup_out").select("text").collect().map(_.getString(0)).sorted
    assert(texts.toSeq == Seq("frame A", "frame B"), s"got ${texts.toSeq}")
  }

  test("session_window aggregation over a stream (5s gap)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int, Double)]
    val agg = input.toDF().toDF("ts", "camera", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "5 seconds"), col("camera"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    val base = 1700000000000L
    // two bursts for camera 0 separated by > 5s => two sessions
    input.addData((new Timestamp(base), 0, 1.0), (new Timestamp(base + 2000), 0, 1.0),
                  (new Timestamp(base + 20000), 0, 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
    assert(got.count() == 2, "two sessions expected")
    assert(got.agg(sum(col("n"))).head.getLong(0) == 3)
  }

  test("CSV sink appends the per-prediction latency log (K4)") {
    // the reference logs camera,frame,prediction,consumers,latency to a
    // CSV per predictor (/root/reference/src/prediction_producer.py:229-238);
    // Spark's file sink is the exactly-once replacement
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val outDir = Files.createTempDirectory("graft_csv_sink")
    val ckDir = Files.createTempDirectory("graft_csv_ck")
    try {
      val input = MemoryStream[(Int, Long, Timestamp, Array[Byte], String, Seq[Int])]
      val frames = input.toDF().toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
      val targets = Seq((0L, "person_0", Seq.fill(64)(0.0))).toDF("t_id", "t_name", "t_enc")
      val log = SauronPipeline.process(frames, targets, tolerance = 0.5)
        .select(col("camera"), col("frame_num"),
          coalesce(col("prediction"), lit("none")).as("prediction"),
          col("latency_s"))
      val q = log.writeStream.format("csv")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckDir.toString)
        .outputMode("append").start()
      input.addData((0, 0L, new Timestamp(1700000000000L), "a".getBytes, "|u1", Seq(1)),
                    (1, 1L, new Timestamp(1700000000100L), "b".getBytes, "|u1", Seq(1)))
      q.processAllAvailable()
      q.stop()
      val written = spark.read
        .schema("camera INT, frame_num BIGINT, prediction STRING, latency_s DOUBLE")
        .csv(outDir.toString)
      assert(written.count() == 2)
      assert(written.filter(col("latency_s").isNotNull).count() == 2)
      assert(written.filter(col("prediction").isNotNull).count() == 2)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
      rm(outDir); rm(ckDir)
    }
  }

  test("StreamingQueryListener captures per-batch metrics (K4)") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.streaming.MetricsListener
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[(Int, Double)]
      val q = input.toDF().toDF("camera", "latency")
        .groupBy(col("camera")).agg(avg(col("latency")))
        .writeStream.format("memory").queryName("metrics_out")
        .outputMode("complete").start()
      input.addData((0, 1.5), (1, 2.5), (0, 3.5))
      q.processAllAvailable()
      q.stop()
      // listener events are async; wait briefly for delivery
      var tries = 0
      while (listener.snapshot.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val batches = listener.snapshot.filter(_.queryName == "metrics_out")
      assert(batches.nonEmpty, "listener must observe at least one batch")
      assert(batches.map(_.numInputRows).sum == 3)
    } finally spark.streams.removeListener(listener)
  }

  test("MetricsListener keeps the duration breakdown and the reorder buffer's state") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.streaming.MetricsListener
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[FrameEvent]
      // a threshold no camera reaches: every frame stays buffered in state
      val q = ReorderBuffer.reorder(input.toDS(), emitThreshold = 100, maxBuffer = 1000)
        .writeStream.format("memory").queryName("reorder_metrics_out")
        .outputMode("append").start()
      input.addData(FrameEvent(0, 1, 1000, "c0f1"), FrameEvent(0, 0, 1000, "c0f0"),
        FrameEvent(1, 0, 1000, "c1f0"))
      q.processAllAvailable()
      q.stop()
      var tries = 0
      def batches = listener.snapshot.filter(b => b.queryName == "reorder_metrics_out" &&
        b.numInputRows > 0)
      while (batches.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(batches.size == 1, s"one data batch expected: ${listener.snapshot}")
      val m = batches.head
      for (k <- Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution"))
        assert(m.durationMs.get(k).exists(_ >= 0), s"durationMs lacks $k: ${m.durationMs}")
      assert(m.durationMs("triggerExecution") >= m.durationMs("addBatch"))
      assert(m.stateRowsTotal == 2, s"one state row per camera: $m")
      assert(m.stateMemoryBytes > 0, s"state memory not captured: $m")
    } finally spark.streams.removeListener(listener)
  }

  test("watermarked tumbling window aggregation over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int, Double)]
    val agg = input.toDF().toDF("ts", "camera", "latency")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "5 seconds"), col("camera"))
      .agg(count(lit(1)).as("n"), avg(col("latency")).as("avg_latency"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    val base = 1700000000000L
    input.addData((new Timestamp(base), 0, 1.0), (new Timestamp(base + 1000), 0, 2.0),
                  (new Timestamp(base + 6000), 0, 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("win_out")
    assert(got.count() == 2, "two 5s windows expected")
    assert(got.agg(sum(col("n"))).head.getLong(0) == 3)
  }

  test("streaming count-min counters equal the batch sketch (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .select(posexplode(graft.operators.Sketches.cmsPositions(col("v"), 16, 2))
        .as(Seq("row", "pos")))
      .groupBy(col("row"), col("pos")).count()
    // complete mode is safe precisely because the sketch state is
    // bounded at d*w counters no matter how long the stream runs
    val q = sketch(input.toDF().toDF("v"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    input.addData("a", "b", "a")
    q.processAllAvailable()
    input.addData("c", "a", "b")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = sketch(Seq("a", "b", "a", "c", "a", "b").toDF("v")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      "incremental counter maintenance must equal the batch sketch")
  }

  test("dedupIngest drops duplicate content across micro-batches via the index table") {
    implicit val sqlCtx = spark.sqlContext
    val (corpusT, indexT) = ("graft_ingest_corpus", "graft_ingest_index")
    try {
      Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(graft.operators.Dedup.dedupIngest("doc_id", "text", corpusT, indexT))
        .start()
      input.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))   // in-batch dup
      q.processAllAvailable()
      input.addData((4L, "alpha"), (5L, "gamma"))                 // cross-batch dup
      q.processAllAvailable()
      input.addData((6L, "beta"), (7L, "beta"))                   // both kinds
      q.processAllAvailable()
      q.stop()
      val corpus = spark.table(corpusT).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(corpus == Seq((1L, "alpha"), (3L, "beta"), (5L, "gamma")),
        s"one min-id survivor per content across all batches, got $corpus")
      assert(spark.table(indexT).count() == 3)
    } finally Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
  }

  test("trainingRowsIngest: streamed micro-batches equal the batch dataloader endpoint") {
    // the streaming twin of q92: fixed offline vocabulary, per-batch
    // offset continuation from the state table, closed shards emitted
    // incrementally, final open shard flushed — concatenated output
    // must be IDENTICAL to the batch packTrainingRows answer when docs
    // arrive in pack order
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val (rowsT, stateT) = ("graft_train_rows", "graft_train_state")
    try {
      Seq(rowsT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("source"), col("text"))
      val vocab = TextAnalysis.vocabTopV(docs, "text", 20).localCheckpoint()
      val ordered = docs.orderBy(col("source"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(ordered.length >= 9, "fixture must span several micro-batches")
      val input = MemoryStream[(Long, String, String)]
      val q = input.toDF().toDF("doc_id", "source", "text")
        .writeStream
        .foreachBatch(TextAnalysis.trainingRowsIngest(vocab, "doc_id", "text",
          "source", budgetTokens = 500L, seqLen = 64, rowsT, stateT))
        .start()
      // mixed batch granularity — including several one-doc batches,
      // the finest-grained exercise of the offset/pending state machine
      val (head, rest) = ordered.splitAt(6)
      for (doc <- head) { input.addData(doc); q.processAllAvailable() }
      for (chunk <- rest.grouped(math.max(1, rest.length / 3 + 1))) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      TextAnalysis.trainingRowsFlush(spark, rowsT, stateT, seqLen = 64)
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select(col("shard"), col("row_idx"), col("n_ids"),
          concat_ws(",", col("ids").cast("array<string>")).as("csv"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val streamed = norm(spark.table(rowsT))
      val batch = norm(TextAnalysis.packTrainingRows(docs, "doc_id", "text",
        by = "source", vocabSize = 20, budgetTokens = 500L, seqLen = 64))
      assert(streamed == batch,
        s"streamed rows must equal the batch endpoint: ${streamed.size} vs ${batch.size}")
    } finally Seq(rowsT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("trainingRowsIngest skips a replayed batch id (no double-advanced offsets)") {
    // simulate the foreachBatch replay window directly: the same
    // (batch, batchId) delivered twice must leave rows AND state
    // exactly as after the first delivery — without the guard the
    // replay re-applies its token count to already-advanced state and
    // corrupts every later shard boundary
    import graft.operators.TextAnalysis
    val (rowsT, stateT) = ("graft_replay_rows", "graft_replay_state")
    try {
      Seq(rowsT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("source"), col("text"))
      val vocab = TextAnalysis.vocabTopV(docs, "text", 20).localCheckpoint()
      val fn = TextAnalysis.trainingRowsIngest(vocab, "doc_id", "text",
        "source", budgetTokens = 300L, seqLen = 32, rowsT, stateT)
      val ordered = docs.orderBy(col("source"), col("doc_id"))
      val (b0, b1) = (ordered.limit(20).localCheckpoint(),
        ordered.orderBy(col("source"), col("doc_id")).offset(20).localCheckpoint())
      fn(b0, 0L)
      def snap() = (spark.table(rowsT).count(),
        spark.table(stateT).head().toSeq.toList)
      val after0 = snap()
      fn(b0, 0L) // replay: must be a no-op
      assert(snap() == after0, "a replayed batch must not change rows or state")
      fn(b1, 1L) // and the stream continues normally afterwards
      TextAnalysis.trainingRowsFlush(spark, rowsT, stateT, seqLen = 32)
      val streamed = spark.table(rowsT)
        .select(col("shard"), col("row_idx"), col("n_ids"),
          concat_ws(",", col("ids").cast("array<string>")).as("csv"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = TextAnalysis.packTrainingRows(docs, "doc_id", "text",
          by = "source", vocabSize = 20, budgetTokens = 300L, seqLen = 32)
        .select(col("shard"), col("row_idx"), col("n_ids"),
          concat_ws(",", col("ids").cast("array<string>")).as("csv"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed == batch, "post-replay stream must still equal the batch answer")
    } finally Seq(rowsT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("bm25Ingest: streamed postings answer queries identically to the batch index") {
    // per-doc postings are batch-independent, so appending micro-batches
    // then refreshing df/stats must give bit-identical BM25 answers to
    // the one-shot batch build; a replayed batch id must be a no-op
    import graft.operators.Retrieval
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_bm25s"
    try {
      Catalog.dropTables(spark, prefix)
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("text"))
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(Retrieval.bm25Ingest("doc_id", "text", prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 4 + 1)) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val before = spark.table(s"${prefix}_postings").count()
      // replay window: a stale batch id re-delivered directly must not append
      Retrieval.bm25Ingest("doc_id", "text", prefix)(
        rows.take(5).toSeq.toDF("doc_id", "text"), 0L)
      assert(spark.table(s"${prefix}_postings").count() == before,
        "a replayed batch id must not grow the postings")
      Retrieval.bm25RefreshStats(spark, prefix)
      // query terms drawn from the corpus itself (first doc's tokens)
      val terms = rows.head._2.split(" ").distinct.take(3)
      val queries = terms.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("q_id", "term")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val streamed = norm(Retrieval.bm25TopKIndexed(spark, prefix,
        queries, "q_id", "term", k = 10))
      val batch = norm(Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "q_id", "term", k = 10))
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed index answers must equal batch: ${streamed.size} vs ${batch.size}")
    } finally {
      Catalog.dropTables(spark, prefix)
      ()
    }
  }

  test("funnelUsersIngest: streamed keyed-state funnel equals the batch k-pass funnel") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, sf("0.001"))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ep"))
      .orderBy(col("ep"), col("event_id"))
      .as[(Long, String, Long)].collect()
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(Long, String, Long)]
    val src = input.toDF().toDF("user_id", "event_type", "ep")
      .withColumn("ts", timestamp_seconds(col("ep")))
    val q = EventOps.funnelUsersIngest(src, "user_id", "event_type", "ts",
        steps, horizonSec = 86400L)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    // time-ordered chunks (the documented contract; disorder goes
    // through ReorderBuffer first)
    for (chunk <- events.grouped(events.length / 5 + 1)) {
      input.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("funnel_stream")
      .groupBy(col("user_id"))
      .agg(max(col("steps_completed")).as("d"),
        min(col("t_first")).as("tf"), max(col("t_last")).as("tl"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventOps.funnelUsers(
        Tables.events(spark, sf("0.001")), "user_id", "event_type", "ts",
        steps, horizonSec = 86400L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("scd2Ingest: streamed interval maintenance equals the batch q143 build") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = Tables.events(spark, sf("0.001"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ep"),
        floor(col("value") / 100).cast("int").as("tier"))
      .orderBy(col("ep"), col("event_id"))
      .as[(Long, Long, Long, Int)].collect()
    val input = MemoryStream[(Long, Long, Long, Int)]
    val src = input.toDF().toDF("user_id", "event_id", "ep", "tier")
      .withColumn("ts", timestamp_seconds(col("ep")))
    val q = EventOps.scd2Ingest(src, "user_id", "ts", "event_id", "tier")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("update").start()
    for (chunk <- purchases.grouped(purchases.length / 7 + 1)) {
      input.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // update-mode dedup: a version is emitted open (valid_to null)
    // until the trigger that closes it
    val streamed = spark.table("scd2_stream")
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("valid_from")).as("vf"), max(col("valid_to")).as("vt"),
        max(col("tier")).as("tier"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4))).toSet
    val batch = SparkEntry.queries("q143_scd2_intervals")(spark, sf("0.001"))
      .select(col("user_id"), col("version"),
        unix_timestamp(col("valid_from")).as("vf"),
        unix_timestamp(col("valid_to")).as("vt"), col("tier"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"diff=${(streamed -- batch).take(3)} / ${(batch -- streamed).take(3)}")
  }

  test("countMinIngest: streamed delta-merged counters equal the one-shot batch sketch") {
    // additive sketches double-count under at-least-once replay, so the
    // ingest must be exactly-once: batch_id delta partitions + dynamic
    // overwrite. Prove merged==batch, then simulate the crash window
    // (state table lost after the delta landed) and replay — byte-equal.
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_cmsing"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("event_type")).as[String].collect()
      val input = MemoryStream[String]
      val q = input.toDF().toDF("event_type")
        .writeStream
        .foreachBatch(Sketches.countMinIngest("event_type", prefix, w = 64, d = 4))
        .start()
      val chunks = rows.grouped(rows.length / 4 + 1).toSeq
      for (chunk <- chunks) { input.addData(chunk.toSeq: _*); q.processAllAvailable() }
      q.stop()
      def counters(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val batchBuild = counters(Sketches.countMinCounters(
        rows.toSeq.toDF("event_type"), "event_type", w = 64, d = 4))
      assert(counters(Sketches.countMinMerged(spark, prefix)) == batchBuild)
      // crash window: delta for the last batch persisted, state write lost
      val lastId = spark.table(s"${prefix}_state").head().getLong(0)
      Catalog.dropTable(spark, s"${prefix}_state")
      Sketches.countMinIngest("event_type", prefix, w = 64, d = 4)(
        chunks.last.toSeq.toDF("event_type"), lastId)
      assert(counters(Sketches.countMinMerged(spark, prefix)) == batchBuild,
        "replaying the crash-window batch must overwrite its partition, not append")
      // stale replay (state intact): skipped whole
      Sketches.countMinIngest("event_type", prefix, w = 64, d = 4)(
        chunks.head.toSeq.toDF("event_type"), 0L)
      assert(counters(Sketches.countMinMerged(spark, prefix)) == batchBuild)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("hllIngest: streamed register merge gives the exact batch HLL estimate") {
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_hlling"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
      val input = MemoryStream[(String, Long)]
      val q = input.toDF().toDF("event_type", "user_id")
        .writeStream
        .foreachBatch(Sketches.hllIngest("event_type", "user_id", prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      val streamed = Sketches.hllMergedEstimate(spark, prefix, "event_type")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      val batch = Sketches.hllDistinct(
          rows.toSeq.toDF("event_type", "user_id"), "event_type", "user_id")
        .select(col("event_type"), col("hll_estimate"), col("n_zero_registers"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("kmvIngest: streamed bottom-k merge equals the one-shot batch estimate") {
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_kmving"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
      val input = MemoryStream[(String, Long)]
      val q = input.toDF().toDF("event_type", "user_id")
        .writeStream
        .foreachBatch(Sketches.kmvIngest("event_type", "user_id", prefix, k = 32))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      val streamed = Sketches.kmvMergedEstimate(spark, prefix, "event_type", k = 32)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      val batch = Sketches.kmvEstimateFrom(
          Sketches.kmvHashes(rows.toSeq.toDF("event_type", "user_id"),
            "event_type", "user_id", k = 32), "event_type", k = 32)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("kmvPairJaccardMerged: streamed pair matrix equals the one-shot batch") {
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_kmvpair"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
      val input = MemoryStream[(String, Long)]
      val q = input.toDF().toDF("event_type", "user_id")
        .writeStream
        .foreachBatch(Sketches.kmvIngest("event_type", "user_id", prefix, k = 32))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .toSet
      val streamed = key(Sketches.kmvPairJaccardMerged(
        spark, prefix, "event_type", k = 32))
      val batch = key(Sketches.kmvPairJaccard(
        rows.toSeq.toDF("event_type", "user_id"),
        "event_type", "user_id", k = 32))
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("dsirIngest: scores against streamed bucket LMs equal the batch answer") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_dsiring"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("text"), col("lang"))
        .as[(Long, String, String)].collect()
      val input = MemoryStream[(Long, String, String)]
      val q = input.toDF().toDF("doc_id", "text", "lang")
        .writeStream
        .foreachBatch(TextAnalysis.dsirIngest("text", col("lang") === "en", prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      val docs = rows.toSeq.toDF("doc_id", "text", "lang")
      val streamed = TextAnalysis.dsirScore(docs, "doc_id", "text",
          TextAnalysis.dsirMergedCounts(spark, prefix), m = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = TextAnalysis.dsirWeights(docs, "doc_id", "text",
          targetPred = col("lang") === "en", m = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("broadcast as-of enriches a stream identically to batch (stream-static)") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val e = Tables.events(spark, sf("0.001"))
      .withColumn("ep", unix_timestamp(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ep"))
      .as[(Long, Long, Long)].collect()
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ep").as("vep"))
    val input = MemoryStream[(Long, Long, Long)]
    val stream = input.toDF().toDF("user_id", "event_id", "ep")
    val q = EventOps.asOfJoinBroadcast(stream, views, "user_id",
        "ep", "vep", rCols = Seq("view_id"))
      .writeStream.format("memory").queryName("asof_stream").start()
    for (chunk <- purchases.grouped(purchases.length / 3 + 1)) {
      input.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("asof_t"), col("view_id"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val streamed = canon(spark.table("asof_stream"))
    val batch = canon(EventOps.asOfJoinBroadcast(
      purchases.toSeq.toDF("user_id", "event_id", "ep"), views,
      "user_id", "ep", "vep", rCols = Seq("view_id")))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("weightedSampleIngest: streamed reservoir equals the batch sample") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_wsing"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .as[(Long, String, Long)].collect()
      val input = MemoryStream[(Long, String, Long)]
      val q = input.toDF().toDF("doc_id", "source", "n_chars")
        .writeStream
        .foreachBatch(TextAnalysis.weightedSampleIngest(
          "doc_id", col("n_chars"), "source", k = 5, prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 4 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      // re-ingest the head chunk: duplicate arrivals land identical
      // clock rows and must NOT occupy extra reservoir slots (merge
      // dedupes deltas before re-ranking)
      input.addData(rows.take(rows.length / 4 + 1).toSeq: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = TextAnalysis.weightedSampleMerged(
          spark, prefix, "doc_id", "source", k = 5)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val batch = TextAnalysis.weightedSample(
          rows.toSeq.toDF("doc_id", "source", "n_chars"),
          "doc_id", col("n_chars"), "source", k = 5)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("semDedupIngest: streamed survivors equal the batch semDedup keep-set") {
    // incremental semantic dedup with a fixed offline quantizer and a
    // persistent all-arrivals index — streamed keeps must match the
    // batch recipe exactly when vectors arrive in id order
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    implicit val sqlCtx = spark.sqlContext
    val (corpusT, indexT, stateT) =
      ("graft_semdedup_corpus", "graft_semdedup_index", "graft_semdedup_state")
    try {
      Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      // batch ground truth under the SAME fixed quantizer
      val matrix = model.orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
      val assigned = e.select(col("vec_id"), col("emb"),
        VectorFunctions.nearestCell(col("emb"), matrix).as("cell"))
      val dropped = Similarity.semDedupDropped(assigned, "vec_id", "emb",
          threshold = 0.4, guardCellSize = 1L << 30,
          guardBits = 6, guardTables = 8, guardSeed = 4000)
        .collect().map(_.getLong(0)).toSet
      assert(dropped.nonEmpty, "fixture is known to contain near-dups at 0.4")
      val ordered = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val expectKeep = ordered.map(_._1).toSet.diff(dropped)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = input.toDF().toDF("vec_id", "emb").writeStream
        .foreachBatch(Similarity.semDedupIngest(model, "vec_id", "emb",
          threshold = 0.4, corpusT, indexT, stateT))
        .start()
      for (chunk <- ordered.grouped(ordered.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(corpusT).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      assert(got == expectKeep,
        s"streamed keeps must equal batch semDedup: extra=${got.diff(expectKeep)} missing=${expectKeep.diff(got)}")
      assert(spark.table(indexT).count() == ordered.length,
        "the index must hold every arrival, dropped ones included")
      // the index table is bucketed on cell: the per-batch cell
      // equi-join must not shuffle the (growing) index side — with
      // broadcast off, the only exchange is the batch side aligning
      // itself to the index's bucketing
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val batchSide = spark.table(indexT).limit(5)
          .select(col("cell"), col("vec_id").as("b_id"))
        val p = spark.table(indexT)
          .join(batchSide, Seq("cell"))
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1,
          s"bucketed index join must shuffle only the batch side:\n${p.take(2000)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    } finally Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("ivfIngest: search over the streamed index equals batch ivfTopK") {
    // streaming ANN-index maintenance: a fixed offline quantizer, new
    // vectors appended to cell-bucketed postings per batch — search
    // over the maintained index must be bit-equal to batch ivfTopK
    // over the same corpus and model
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    implicit val sqlCtx = spark.sqlContext
    val (indexT, stateT) = ("graft_ivf_index", "graft_ivf_state")
    try {
      Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val ordered = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = input.toDF().toDF("vec_id", "emb").writeStream
        .foreachBatch(Similarity.ivfIngest(model, "vec_id", "emb",
          indexT, stateT))
        .start()
      for (chunk <- ordered.grouped(ordered.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      assert(spark.table(indexT).count() == ordered.length,
        "the index must hold every arrival")
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).toSet
      val streamed = key(Similarity.ivfSearchIndexed(probes, "p_id", "p_vec",
        indexT, model, "vec_id", "emb", k = 3, nProbe = 2)
        .select(col("p_id"), col("vec_id"), col("sim"), col("rank")))
      val batch = key(Similarity.ivfTopK(probes, "p_id", "p_vec",
        e, "vec_id", "emb", model, "cell", "centroid_vec", k = 3, nProbe = 2)
        .select(col("p_id"), col("vec_id"), col("sim"), col("rank")))
      assert(streamed.nonEmpty && streamed == batch,
        s"indexed search must equal batch ivfTopK: extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      // the postings table is bucketed on cell: the search equi-join
      // must not shuffle the (large) index side — with broadcast off,
      // the only exchange below the join is the probe fan-out aligning
      // itself to the index's bucketing (rank adds its own post-join
      // window exchange)
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = Similarity.ivfSearchIndexed(probes, "p_id", "p_vec",
          indexT, model, "vec_id", "emb", k = 3, nProbe = 2)
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning\\(cell".r.findAllMatchIn(p).size == 1,
          s"indexed search must shuffle only the probe side on cell:\n${p.take(2000)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    } finally Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("ivfIngest skips a replayed batch id (no duplicate postings)") {
    // duplicate postings would emit duplicate (probe, target) rows and
    // corrupt ranks — the batch-id guard makes redelivery exactly-once
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    val (indexT, stateT) = ("graft_ivfreplay_index", "graft_ivfreplay_state")
    try {
      Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val fn = Similarity.ivfIngest(model, "vec_id", "emb", indexT, stateT)
      val b0 = e.filter(col("vec_id") < 30).localCheckpoint()
      val b1 = e.filter(col("vec_id") >= 30).localCheckpoint()
      fn(b0, 0L)
      val after0 = (spark.table(indexT).count(),
        spark.table(stateT).head().getLong(0))
      fn(b0, 0L) // replay: must be a no-op
      assert((spark.table(indexT).count(),
        spark.table(stateT).head().getLong(0)) == after0,
        "a replayed batch must not grow the postings")
      fn(b1, 1L)
      assert(spark.table(indexT).count() == e.count(),
        "post-replay ingest must index every arrival exactly once")
    } finally Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("ivfPqIngest: streamed codes equal batch pqEncode; full-probe search equals pqTopK") {
    // memory-bounded ANN index maintenance: postings carry m-byte PQ
    // codes, not vectors. Streamed codes must equal a batch encode of
    // the same rows, and with every coarse cell probed the ADC search
    // over the index must be bit-equal to full-scan pqTopK
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    implicit val sqlCtx = spark.sqlContext
    val (indexT, stateT) = ("graft_ivfpq_index", "graft_ivfpq_state")
    try {
      Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val books = Similarity.pqCodebooks(
        e.filter(col("vec_id") < 100), "vec_id", "emb", m = 2, k = 4,
        iters = 2).localCheckpoint()
      val ordered = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = input.toDF().toDF("vec_id", "emb").writeStream
        .foreachBatch(Similarity.ivfPqIngest(model, books, "vec_id", "emb",
          indexT, stateT))
        .start()
      for (chunk <- ordered.grouped(ordered.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      // streamed codes == batch encode (identical subspace assignment)
      val streamedCodes = spark.table(indexT)
        .select(col("vec_id"), col("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val batchCodes = Similarity.pqEncode(e, "vec_id", "emb", books)
        .select(col("vec_id"), col("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(streamedCodes == batchCodes,
        "streamed postings must carry the exact batch-encode codes")
      // full-probe indexed ADC == full-scan pqTopK
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).toSet
      val indexed = key(Similarity.ivfPqSearchIndexed(probes, "p_id", "p_vec",
        indexT, model, books, "vec_id", k = 3, nProbe = 4)
        .select(col("p_id"), col("vec_id"), col("adc"), col("rank")))
      val coded = Similarity.pqEncode(e, "vec_id", "emb", books)
        .select(col("vec_id"), col("codes"))
      val full = key(Similarity.pqTopK(probes, "p_id", "p_vec",
        coded, "vec_id", books, k = 3)
        .select(col("p_id"), col("vec_id"), col("adc"), col("rank")))
      assert(indexed.nonEmpty && indexed == full,
        s"full-probe indexed ADC must equal full-scan pqTopK: extra=${indexed.diff(full)} missing=${full.diff(indexed)}")
      // replay guard: re-applying a batch id must not grow postings
      val n0 = spark.table(indexT).count()
      val fn = Similarity.ivfPqIngest(model, books, "vec_id", "emb",
        indexT, stateT)
      fn(e.limit(10), 0L) // batch id 0 already applied
      assert(spark.table(indexT).count() == n0,
        "a replayed batch must not grow the coded postings")
    } finally Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("psiIngest: per-batch reports equal psiReport over reference UNION batch") {
    // the standing drift monitor: frozen reference histogram, one
    // appended per-bin PSI report per micro-batch — each report must be
    // bit-equal to the batch psiReport over reference ∪ that batch
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (reportT, stateT) = ("graft_psi_report", "graft_psi_state")
    try {
      Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), length(col("text")).cast("double").as("v"))
      val ref = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
      val curAll = docs.filter(col("doc_id") % 2 =!= 0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val input = MemoryStream[(Long, Double)]
      val q = input.toDF().toDF("doc_id", "v").writeStream
        .foreachBatch(Quality.psiIngest(ref, col("v"), binWidth = 100.0,
          bins = 8, reportT, stateT))
        .start()
      val chunks = curAll.grouped(curAll.length / 3 + 1).toSeq
      for (chunk <- chunks) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val report = spark.table(reportT)
      assert(report.select(col("batch_id")).distinct().count() == chunks.size)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val streamed = key(report.filter(col("batch_id") === i.toLong)
          .select(col("bin"), col("n_ref"), col("n_cur"),
            col("ref_share"), col("cur_share"), col("psi_contrib")))
        val union = ref.withColumn("is_ref", lit(true))
          .unionByName(chunk.toSeq.toDF("doc_id", "v")
            .withColumn("is_ref", lit(false)))
        val batch = key(Quality.psiReport(union, col("v"), col("is_ref"),
          binWidth = 100.0, bins = 8)
          .select(col("bin"), col("n_ref"), col("n_cur"),
            col("ref_share"), col("cur_share"), col("psi_contrib")))
        assert(streamed == batch,
          s"batch $i: extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      }
      // replay guard: re-applying batch 0 must not append a duplicate
      // report generation for the same batch id
      val n0 = spark.table(reportT).count()
      val fn = Quality.psiIngest(ref, col("v"), 100.0, 8, reportT, stateT)
      fn(chunks.head.toSeq.toDF("doc_id", "v"), 0L)
      assert(spark.table(reportT).count() == n0,
        "a replayed batch must not duplicate its drift report")
    } finally Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("termCountsIngest: streamed vocab coverage equals the batch curve") {
    // one streamed term-count index powers the text-diagnostics tier:
    // the coverage curve over merged deltas must equal the one-shot
    // batch curve, and a replayed batch must not double-count
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_termcounts"
    try {
      Seq(s"${prefix}_deltas", s"${prefix}_state")
        .foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("text"))
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(TextAnalysis.termCountsIngest("text", prefix))
        .start()
      rows.grouped(rows.length / 3 + 1).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      val sizes = Seq(8, 16, 32)
      val streamed = key(TextAnalysis.vocabCoverageFromCounts(
        TextAnalysis.termCountsMerged(spark, prefix), sizes))
      val batch = key(TextAnalysis.vocabCoverage(docs, "text", sizes))
      assert(streamed == batch,
        s"extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      // replay guard: re-applying batch 0 must not change the counts
      val before = TextAnalysis.termCountsMerged(spark, prefix)
        .agg(org.apache.spark.sql.functions.sum(col("c"))).head.getLong(0)
      TextAnalysis.termCountsIngest("text", prefix)(
        rows.take(5).toSeq.toDF("doc_id", "text"), 0L)
      val after = TextAnalysis.termCountsMerged(spark, prefix)
        .agg(org.apache.spark.sql.functions.sum(col("c"))).head.getLong(0)
      assert(after == before, "a replayed batch must not double-count")
    } finally Seq(s"${prefix}_deltas", s"${prefix}_state")
      .foreach(Catalog.dropTable(spark, _))
  }

  test("jsdIngest: streamed per-source JSD report equals the batch report") {
    // the unigram-mix drift monitor: merged (source x term) deltas fed
    // through jsDivergenceFromCounts must equal the one-shot batch
    // report, and a replayed batch id must not shift any divergence
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_jsd"
    try {
      Seq(s"${prefix}_deltas", s"${prefix}_state")
        .foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("source"), col("text"))
      val rows = docs.collect().map(r => (r.getString(0), r.getString(1)))
        .sortBy(_._2)
      val input = MemoryStream[(String, String)]
      val q = input.toDF().toDF("source", "text").writeStream
        .foreachBatch(TextAnalysis.jsdIngest(col("source"), "text", prefix))
        .start()
      rows.grouped(rows.length / 3 + 1).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val streamed = key(TextAnalysis.jsdMerged(spark, prefix))
      val batch = key(TextAnalysis.jsDivergenceByGroup(
        docs, "text", col("source")))
      assert(streamed == batch,
        s"extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      // replay guard: re-landing batch 0 must leave the report identical
      TextAnalysis.jsdIngest(col("source"), "text", prefix)(
        rows.take(5).toSeq.toDF("source", "text"), 0L)
      assert(key(TextAnalysis.jsdMerged(spark, prefix)) == batch,
        "a replayed batch must not shift the divergence")
    } finally Seq(s"${prefix}_deltas", s"${prefix}_state")
      .foreach(Catalog.dropTable(spark, _))
  }

  test("sceneCutStream: emitted frames equal batch sceneSegments starts") {
    // perceptual frame skipping: the streamed cut filter must emit
    // exactly the frames batch sceneSegments reports as scene starts —
    // across micro-batch boundaries (state carries the last signature)
    import graft.operators.{Multimodal, SigFrame}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sigs = Tables.documents(spark, sf("0.001")).select(
        (col("doc_id") % 6).cast("int").as("camera"),
        (col("doc_id") / lit(6)).cast("long").as("frameNum"),
        Multimodal.chunkSignature(encode(col("text"), "UTF-8")).as("sig"))
      .as[SigFrame]
      .collect().sortBy(f => (f.frameNum, f.camera)) // arrival in frame order
    val input = MemoryStream[SigFrame]
    val out = Multimodal.sceneCutStream(input.toDS(), cutHamming = 40)
    val q = out.writeStream.format("memory").queryName("graft_scene_cuts")
      .outputMode("append").start()
    sigs.grouped(sigs.length / 4 + 1).foreach { chunk =>
      input.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("graft_scene_cuts")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val frames = Tables.documents(spark, sf("0.001")).select(
      (col("doc_id") % 6).cast("int").as("camera"),
      (col("doc_id") / lit(6)).cast("long").as("frame_num"),
      encode(col("text"), "UTF-8").as("frame"))
    val batch = Multimodal.sceneSegments(frames, "camera", "frame_num",
        "frame", cutHamming = 40)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
    // the filter must actually skip frames (scenes longer than 1)
    assert(streamed.size < sigs.length)
  }

  test("emdIngest: per-batch reports equal emdReport over reference UNION batch") {
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (reportT, stateT) = ("graft_emd_report", "graft_emd_state")
    try {
      Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), length(col("text")).cast("double").as("v"))
      val ref = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
      val curAll = docs.filter(col("doc_id") % 2 =!= 0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val input = MemoryStream[(Long, Double)]
      val q = input.toDF().toDF("doc_id", "v").writeStream
        .foreachBatch(Quality.emdIngest(ref, col("v"), binWidth = 50.0,
          reportT, stateT))
        .start()
      val chunks = curAll.grouped(curAll.length / 3 + 1).toSeq
      for (chunk <- chunks) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val report = spark.table(reportT)
      assert(report.select(col("batch_id")).distinct().count() == chunks.size)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val streamed = key(report.filter(col("batch_id") === i.toLong)
          .select(col("n_ref"), col("n_cur"), col("emd")))
        val union = ref.withColumn("is_ref", lit(true))
          .unionByName(chunk.toSeq.toDF("doc_id", "v")
            .withColumn("is_ref", lit(false)))
        val batch = key(Quality.emdReport(union, col("v"), col("is_ref"),
          binWidth = 50.0)
          .select(col("n_ref"), col("n_cur"), col("emd")))
        assert(streamed == batch,
          s"batch $i: extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      }
      val n0 = spark.table(reportT).count()
      Quality.emdIngest(ref, col("v"), 50.0, reportT, stateT)(
        chunks.head.toSeq.toDF("doc_id", "v"), 0L)
      assert(spark.table(reportT).count() == n0,
        "a replayed batch must not duplicate its drift report")
    } finally Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("ksIngest: per-batch reports equal ksReport over reference UNION batch") {
    // the KS member of the standing drift monitors: frozen reference
    // CDF, one appended report ROW per micro-batch, each bit-equal to
    // the batch ksReport over reference ∪ that batch
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (reportT, stateT) = ("graft_ks_report", "graft_ks_state")
    try {
      Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), length(col("text")).cast("double").as("v"))
      val ref = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
      val curAll = docs.filter(col("doc_id") % 2 =!= 0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val input = MemoryStream[(Long, Double)]
      val q = input.toDF().toDF("doc_id", "v").writeStream
        .foreachBatch(Quality.ksIngest(ref, col("v"), binWidth = 50.0,
          reportT, stateT))
        .start()
      val chunks = curAll.grouped(curAll.length / 3 + 1).toSeq
      for (chunk <- chunks) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val report = spark.table(reportT)
      assert(report.select(col("batch_id")).distinct().count() == chunks.size)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSet
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val streamed = key(report.filter(col("batch_id") === i.toLong)
          .select(col("n_ref"), col("n_cur"), col("d_stat"),
            col("ks_scaled"), col("reject_05")))
        val union = ref.withColumn("is_ref", lit(true))
          .unionByName(chunk.toSeq.toDF("doc_id", "v")
            .withColumn("is_ref", lit(false)))
        val batch = key(Quality.ksReport(union, col("v"), col("is_ref"),
          binWidth = 50.0)
          .select(col("n_ref"), col("n_cur"), col("d_stat"),
            col("ks_scaled"), col("reject_05")))
        assert(streamed == batch,
          s"batch $i: extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      }
      // replay guard
      val n0 = spark.table(reportT).count()
      val fn = Quality.ksIngest(ref, col("v"), 50.0, reportT, stateT)
      fn(chunks.head.toSeq.toDF("doc_id", "v"), 0L)
      assert(spark.table(reportT).count() == n0,
        "a replayed batch must not duplicate its drift report")
    } finally Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("aucIngest: merged streamed spine reads the one-shot batch AUC") {
    // eval-on-ingest: per-batch partial (score, n, np) counts are
    // additive over the bounded score spine, so the merged AUC must
    // equal aucReport over all rows at once — and a replayed batch must
    // not double-count its scores
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (spineT, stateT) = ("graft_auc_spine", "graft_auc_state")
    try {
      Seq(spineT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"),
          round(conv(substring(md5(col("text")), 1, 4), 16, 10)
            .cast("double") / 65536.0, 6).as("score"),
          (length(col("text")) > 300).cast("int").as("y"))
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
      val input = MemoryStream[(Long, Double, Int)]
      val q = input.toDF().toDF("doc_id", "score", "y").writeStream
        .foreachBatch(Quality.aucIngest("score", "y", spineT, stateT))
        .start()
      val chunks = rows.grouped(rows.length / 3 + 1).toSeq
      for (chunk <- chunks) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      def one(df: org.apache.spark.sql.DataFrame) = df.collect().head
      val streamed = one(Quality.aucMerged(spark, spineT))
      val batch = one(Quality.aucReport(
        rows.toSeq.toDF("doc_id", "score", "y"), "score", "y"))
      assert(streamed.getLong(0) == batch.getLong(0) &&
        streamed.getLong(1) == batch.getLong(1) &&
        streamed.getLong(2) == batch.getLong(2) &&
        streamed.getDouble(3) == batch.getDouble(3),
        s"streamed=$streamed batch=$batch")
      assert(streamed.getLong(1) > 0 && streamed.getLong(2) > 0,
        "fixture must contain both classes")
      // replay guard
      val n0 = spark.table(spineT).count()
      val fn = Quality.aucIngest("score", "y", spineT, stateT)
      fn(chunks.head.toSeq.toDF("doc_id", "score", "y"), 0L)
      assert(spark.table(spineT).count() == n0,
        "a replayed batch must not append spine partials again")
    } finally Seq(spineT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("calibrationIngest: merged spine equals the one-shot calibration report") {
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (spineT, stateT) = ("graft_cal_spine", "graft_cal_state")
    try {
      Seq(spineT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"),
          round(conv(substring(md5(col("text")), 1, 4), 16, 10)
            .cast("double") / 65536.0, 6).as("score"),
          (length(col("text")) > 300).cast("int").as("y"))
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
      val input = MemoryStream[(Long, Double, Int)]
      val q = input.toDF().toDF("doc_id", "score", "y").writeStream
        .foreachBatch(Quality.calibrationIngest("score", "y", bins = 10,
          spineT, stateT))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val streamed = key(Quality.calibrationMerged(spark, spineT))
      val batch = key(Quality.calibrationReport(
        rows.toSeq.toDF("doc_id", "score", "y"), "score", "y", bins = 10))
      assert(streamed.nonEmpty && streamed == batch,
        s"extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
    } finally Seq(spineT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("semDedupIngest skips a replayed batch id (no duplicate index growth)") {
    // the foreachBatch redelivery contract: the same (batch, batchId)
    // applied twice must leave corpus, index AND state exactly as after
    // the first application — without the guard every replayed arrival
    // re-appends to the index (silent duplicate growth from a dedup
    // operator)
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    val (corpusT, indexT, stateT) =
      ("graft_sdreplay_corpus", "graft_sdreplay_index", "graft_sdreplay_state")
    try {
      Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val fn = Similarity.semDedupIngest(model, "vec_id", "emb",
        threshold = 0.4, corpusT, indexT, stateT)
      val b0 = e.filter(col("vec_id") < 30).localCheckpoint()
      val b1 = e.filter(col("vec_id") >= 30).localCheckpoint()
      fn(b0, 0L)
      def snap() = (spark.table(corpusT).count(), spark.table(indexT).count(),
        spark.table(stateT).head().getLong(0))
      val after0 = snap()
      fn(b0, 0L) // replay: must be a no-op
      assert(snap() == after0, "a replayed batch must not grow corpus or index")
      fn(b1, 1L) // the stream continues normally afterwards
      assert(spark.table(indexT).count() == e.count(),
        "post-replay ingest must index every distinct arrival exactly once")
    } finally Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("dedupIngest replay is naturally idempotent (digests anti-join away)") {
    // dedupIngest needs no batch-id guard: a replayed batch's content
    // hashes are already in the digest index, so incrementalNew drops
    // every row — corpus and index end exactly as after the first
    // delivery, and later batches continue unaffected
    import graft.operators.Dedup
    val (corpusT, indexT) = ("graft_ddreplay_corpus", "graft_ddreplay_index")
    try {
      Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("text"))
      val fn = Dedup.dedupIngest("doc_id", "text", corpusT, indexT)
      val b0 = docs.filter(col("doc_id") < 30).localCheckpoint()
      val b1 = docs.filter(col("doc_id") >= 30).localCheckpoint()
      fn(b0, 0L)
      def snap() = (spark.table(corpusT).count(), spark.table(indexT).count())
      val after0 = snap()
      fn(b0, 0L) // replay: every digest already indexed -> no-op
      assert(snap() == after0, "replayed batch must not re-append survivors")
      fn(b1, 1L)
      val expect = docs.select(md5(col("text"))).distinct().count()
      assert(spark.table(corpusT).count() == expect,
        "post-replay corpus must hold exactly one row per distinct content hash")
    } finally Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
  }

  test("streaming near-dup: incoming vectors vs a static LSH index") {
    // the streaming twin of incremental dedup at near-dup granularity:
    // a crawl stream LSH-bucket-joins a static index of the existing
    // corpus — stream-static equi-join on (table, bucket), exact rescore
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.{cosineWithNorms, fastNorm}
    val vA = Seq.fill(8)(0.5)
    val vB = Seq.fill(4)(1.0) ++ Seq.fill(4)(-1.0)
    def indexOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("nrm", fastNorm(col("emb")))
      .withColumn("bks", VectorFunctions.lshBuckets(col("emb"), 6, 4, 1000))
      .select(col("id"), col("emb"), col("nrm"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val index = indexOf(Seq((1L, vA), (2L, vB)).toDF("id", "emb"))
    val input = MemoryStream[(Long, Seq[Double])]
    val probes = indexOf(input.toDF().toDF("id", "emb"))
      .withColumnRenamed("id", "p_id").withColumnRenamed("emb", "p_emb")
      .withColumnRenamed("nrm", "p_nrm")
    val cand = probes.join(index, Seq("tbl", "bucket"))
      .withColumn("sim", cosineWithNorms(col("p_emb"), col("emb"), col("p_nrm"), col("nrm")))
      .filter(col("sim") >= 0.9)
      .select(col("p_id"), col("id"), col("sim"))
    val q = cand.writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").start()
    input.addData((100L, vA), (101L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    assert(got.toSeq == Seq((100L, 1L)),
      s"the identical incoming vector must match exactly its index twin, got ${got.toSeq}")
  }

  test("sliding (hopping) window aggregation over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int)]
    val agg = input.toDF().toDF("ts", "camera")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds", "5 seconds"), col("camera"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode("update").start()
    val base = 1700000000000L
    // one event: must land in exactly two overlapping 10s windows
    input.addData((new Timestamp(base + 7000), 0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slide_out")
    assert(got.count() == 2, "10s window sliding by 5s => every event in 2 windows")
    assert(got.agg(sum(col("n"))).head.getLong(0) == 2)
  }

  test("stream-stream interval join: detections x camera telemetry (SURVEY §2.11)") {
    // the streaming analog of the pipeline's frame/metadata zip: both
    // sides watermarked, equi-key on camera plus a bounded event-time
    // range, so join state is GC'd as the watermark advances
    implicit val sqlCtx = spark.sqlContext
    val det = MemoryStream[(Int, Timestamp, String)]
    val tel = MemoryStream[(Int, Timestamp, Double)]
    val d = det.toDF().toDF("camera", "dts", "prediction")
      .withWatermark("dts", "10 seconds")
    val t = tel.toDF().toDF("tcam", "tts", "temp")
      .withWatermark("tts", "10 seconds")
    val joined = d.join(t,
      expr("camera = tcam AND tts BETWEEN dts - interval 2 seconds AND dts + interval 2 seconds"))
      .select(col("camera"), col("dts"), col("prediction"), col("temp"))
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode("append").start()
    val base = 1700000000000L
    det.addData((0, new Timestamp(base + 1000), "person_0"),
                (1, new Timestamp(base + 1000), "person_1"))
    tel.addData((0, new Timestamp(base), 20.5),          // within 2s of cam0 detection
                (0, new Timestamp(base + 8000), 21.5),   // outside the interval
                (2, new Timestamp(base + 1000), 22.5))   // no matching camera
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join_out").collect()
    assert(got.length == 1, s"exactly the in-interval same-camera pair joins, got ${got.length}")
    assert(got.head.getInt(0) == 0 && got.head.getDouble(3) == 20.5)
  }

  test("kmvIngest resumes from a checkpoint: resumed == uninterrupted == batch") {
    // kill the stream mid-corpus, let new chunks arrive while it is
    // down, restart with the SAME checkpoint — the merged estimate must
    // equal the one-shot batch estimate (delta partitions are keyed by
    // batch id, so a replayed batch overwrites itself)
    import graft.operators.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_kmvck_src")
    val ck = java.nio.file.Files.createTempDirectory("graft_kmvck_ck")
    val prefix = "graft_kmvck"
    try {
      Catalog.dropTables(spark, prefix)
      val all = Tables.events(spark, sf("0.001"))
        .select(col("event_type"), col("user_id"), col("event_id"))
      def chunk(i: Int) = all
        .filter(col("event_id") % 4 === i).drop("event_id")
      def start() = spark.readStream
        .schema("event_type STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch(Sketches.kmvIngest("event_type", "user_id", prefix, k = 32))
        .start()
      (0 until 2).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed mid-corpus; chunks 2-3 arrive while it is down
      (2 until 4).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val resumed = Sketches.kmvMergedEstimate(spark, prefix, "event_type", k = 32)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      val batch = Sketches.kmvEstimateFrom(
          Sketches.kmvHashes(all.drop("event_id"), "event_type", "user_id", k = 32),
          "event_type", k = 32)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      assert(resumed.nonEmpty && resumed == batch,
        "resumed merge must equal the one-shot batch estimate")
    } finally {
      Catalog.dropTables(spark, prefix)
      RestartHarness.rmTree(dir); RestartHarness.rmTree(ck)
    }
  }

  test("bm25Ingest resumes from a checkpoint: postings answer like the batch index") {
    import graft.operators.Retrieval
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bmck_src")
    val ck = java.nio.file.Files.createTempDirectory("graft_bmck_ck")
    val prefix = "graft_bmck"
    try {
      Catalog.dropTables(spark, prefix)
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("text"))
      def start() = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch(Retrieval.bm25Ingest("doc_id", "text", prefix))
        .start()
      def chunk(i: Int) = docs.filter(col("doc_id") % 4 === i)
      (0 until 2).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed mid-corpus
      (2 until 4).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      Retrieval.bm25RefreshStats(spark, prefix)
      val terms = docs.orderBy(col("doc_id")).head().getString(1)
        .split(" ").distinct.take(3)
      val queries = terms.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("q_id", "term")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val resumed = norm(Retrieval.bm25TopKIndexed(spark, prefix,
        queries, "q_id", "term", k = 10))
      val batch = norm(Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "q_id", "term", k = 10))
      assert(resumed.nonEmpty && resumed == batch,
        "resumed postings must answer identically to the batch index")
    } finally {
      Catalog.dropTables(spark, prefix)
      RestartHarness.rmTree(dir); RestartHarness.rmTree(ck)
    }
  }

  test("funnelUsersIngest resumes its keyed state from a checkpoint") {
    // the state-store restart proof: per-user FunnelState lives in the
    // checkpoint, so killing the query between time slices and resuming
    // must reach exactly the batch funnel depths — no user reset, no
    // double-count
    import graft.operators.EventOps
    import scala.collection.mutable
    val dir = java.nio.file.Files.createTempDirectory("graft_fnck_src")
    val ck = java.nio.file.Files.createTempDirectory("graft_fnck_ck")
    val steps = Seq("view", "click", "purchase")
    try {
      val all = Tables.events(spark, sf("0.001"))
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ep"))
      // chunks cut by TIME so per-user arrival order holds across
      // batches (the ingest contract; disorder composes with
      // ReorderBuffer — see the next test)
      val cuts = all.stat.approxQuantile("ep", Array(0.25, 0.5, 0.75), 0.0)
        .map(_.toLong)
      def chunk(i: Int) = {
        val lo = if (i == 0) Long.MinValue else cuts(i - 1)
        val hi = if (i == 3) Long.MaxValue else cuts(i)
        all.filter(col("ep") >= lo && col("ep") < hi)
      }
      val updates = mutable.Map[Long, (Int, Long, Long)]()
      def start() = EventOps.funnelUsersIngest(
          spark.readStream
            .schema("user_id BIGINT, event_type STRING, ep BIGINT")
            .option("maxFilesPerTrigger", 1)
            .parquet(dir.toString)
            .withColumn("ts", timestamp_seconds(col("ep"))),
          "user_id", "event_type", "ts", steps, horizonSec = 86400L)
        .writeStream
        .option("checkpointLocation", ck.toString)
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => updates(r.getLong(0)) =
            (r.getInt(1), r.getLong(2), r.getLong(3)))
        }
        .start()
      (0 until 2).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed between time slices; the rest arrives while down
      (2 until 4).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val batch = EventOps.funnelUsers(
          all.withColumn("ts", timestamp_seconds(col("ep"))),
          "user_id", "event_type", "ts", steps, horizonSec = 86400L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(updates.nonEmpty && updates.toMap == batch,
        s"resumed funnel state must reach batch depths: " +
          s"${updates.size} streamed vs ${batch.size} batch users")
    } finally { RestartHarness.rmTree(dir); RestartHarness.rmTree(ck) }
  }

  test("scd2Ingest resumes its open-interval state from a checkpoint") {
    // kill-and-resume for dimension maintenance: the OPEN interval per
    // user lives in the checkpointed state store; restart must continue
    // version numbering and close intervals exactly as an uninterrupted
    // run (== the batch q143 build), no version reset, no re-emit drift
    import graft.operators.EventOps
    import scala.collection.mutable
    val dir = java.nio.file.Files.createTempDirectory("graft_scdck_src")
    val ck = java.nio.file.Files.createTempDirectory("graft_scdck_ck")
    try {
      val all = Tables.events(spark, sf("0.001"))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ep"),
          floor(col("value") / 100).cast("int").as("tier"))
      val cuts = all.stat.approxQuantile("ep", Array(0.25, 0.5, 0.75), 0.0)
        .map(_.toLong)
      def chunk(i: Int) = {
        val lo = if (i == 0) Long.MinValue else cuts(i - 1)
        val hi = if (i == 3) Long.MaxValue else cuts(i)
        all.filter(col("ep") >= lo && col("ep") < hi)
      }
      // (user, version) -> (vf, vt, tier); later emits overwrite (the
      // update-mode dedup rule: the close supersedes the open snapshot)
      val seen = mutable.Map[(Long, Int), (Long, Option[Long], Int)]()
      def start() = EventOps.scd2Ingest(
          spark.readStream
            .schema("user_id BIGINT, event_id BIGINT, ep BIGINT, tier INT")
            .option("maxFilesPerTrigger", 1)
            .parquet(dir.toString)
            .withColumn("ts", timestamp_seconds(col("ep"))),
          "user_id", "ts", "event_id", "tier")
        .writeStream
        .option("checkpointLocation", ck.toString)
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            val vt = Option(r.get(3)).map(_.asInstanceOf[Long])
            val key = (r.getLong(0), r.getInt(1))
            // never let an open snapshot overwrite a recorded close
            if (vt.isDefined || !seen.get(key).exists(_._2.isDefined))
              seen(key) = (r.getLong(2), vt, r.getInt(4))
          }
        }
        .start()
      (0 until 2).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed mid-history; the rest arrives while down
      (2 until 4).foreach(i => RestartHarness.writeChunk(chunk(i), dir, i))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val batch = SparkEntry.queries("q143_scd2_intervals")(spark, sf("0.001"))
        .select(col("user_id"), col("version"),
          unix_timestamp(col("valid_from")).as("vf"),
          unix_timestamp(col("valid_to")).as("vt"), col("tier"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
            r.getInt(4)))).toMap
      assert(seen.nonEmpty && seen.toMap == batch,
        s"resumed SCD2 must equal the batch build: ${seen.size} streamed " +
          s"vs ${batch.size} batch versions")
    } finally { RestartHarness.rmTree(dir); RestartHarness.rmTree(ck) }
  }

  test("disordered stream -> ReorderBuffer -> funnel equals the batch funnel") {
    // the composition the funnel ingest's contract names: cross-batch
    // per-user time order restored by the reorder buffer, then the
    // keyed-state funnel — streamed depths equal the order-independent
    // batch funnel over the same events
    import graft.operators.EventOps
    import scala.collection.mutable
    implicit val sqlCtx = spark.sqlContext
    // 3 users x 30 in-order events (view->click->purchase cycles with
    // filler); frameNum IS the per-user sequence/time axis
    val types = Seq("view", "noise", "click", "noise", "purchase", "view")
    val ordered = for (u <- 0 until 3; i <- 0 until 30) yield
      FrameEvent(u, i.toLong, 1000L + i, types(i % types.size))
    // bounded disorder: swap adjacent pairs within each user (window 2)
    val disordered = ordered.grouped(2).flatMap(_.reverse).toSeq
    // sentinels flush the reorder tail (ignored by the funnel)
    val sentinels = for (u <- 0 until 3; i <- 30 until 40) yield
      FrameEvent(u, i.toLong, 1000L + i, "noise")
    val input = MemoryStream[FrameEvent]
    val emitted = mutable.ArrayBuffer[(Long, Seq[FrameEvent])]()
    val q = ReorderBuffer.reorder(input.toDS(), emitThreshold = 8, maxBuffer = 12)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FrameEvent], id: Long) =>
        val rows = b.collect().toSeq
        if (rows.nonEmpty) emitted.synchronized { emitted += id -> rows }; ()
      }
      .start()
    for (chunk <- (disordered ++ sentinels).grouped(15)) {
      input.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    // per-user emission order must be frameNum order (reorder worked)
    emitted.flatMap(_._2).groupBy(_.camera).foreach { case (_, evs) =>
      assert(evs.map(_.frameNum) == evs.map(_.frameNum).sorted,
        "reorder must emit each user's events in order")
    }
    // stage 2: replay the reordered emissions, batch-aligned, into the
    // keyed-state funnel
    val steps = Seq("view", "click", "purchase")
    val f2 = MemoryStream[(Long, String, Long)]
    val depths = mutable.Map[Long, Int]()
    val q2 = EventOps.funnelUsersIngest(
        f2.toDF().toDF("user_id", "event_type", "ep")
          .withColumn("ts", timestamp_seconds(col("ep"))),
        "user_id", "event_type", "ts", steps)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => depths(r.getLong(0)) = r.getInt(1)); ()
      }
      .start()
    for ((_, rows) <- emitted.sortBy(_._1)) {
      f2.addData(rows.map(e => (e.camera.toLong, e.payload, e.epochMs)): _*)
      q2.processAllAvailable()
    }
    q2.stop()
    val batch = EventOps.funnelUsers(
        ordered.map(e => (e.camera.toLong, e.payload, e.epochMs))
          .toDF("user_id", "event_type", "ep")
          .withColumn("ts", timestamp_seconds(col("ep"))),
        "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(depths.nonEmpty && depths.toMap == batch,
      s"reorder+funnel must equal the batch funnel: $depths vs $batch")
  }

  test("activeDaysIngest: streamed DAU/WAU merge equals the one-shot batch answer") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_dauing"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("user_id"), unix_timestamp(col("ts")).as("ep"))
        .as[(Long, Long)].collect()
      val input = MemoryStream[(Long, Long)]
      val q = input.toDF().toDF("user_id", "ep")
        .withColumn("ts", timestamp_seconds(col("ep")))
        .writeStream
        .foreachBatch(EventOps.activeDaysIngest("user_id", "ts", prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      val streamed = EventOps.dauWauMerged(spark, prefix)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = EventOps.dauWau(
          rows.toSeq.toDF("user_id", "ep")
            .select(col("user_id"),
              to_date(timestamp_seconds(col("ep"))).as("day")).distinct())
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally { Catalog.dropTables(spark, prefix); () }
  }

  test("activeDaysIngest also answers new-vs-returning: merged first-day == batch") {
    // the same (user, day) delta relation serves BOTH engagement
    // readouts: DAU/WAU (above) and the q185 new-vs-returning split —
    // first-day is a running MIN over the merged deltas, and
    // min-of-union == union-of-mins
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prefix = "graft_nring"
    try {
      Catalog.dropTables(spark, prefix)
      val rows = Tables.events(spark, sf("0.001"))
        .select(col("user_id"), unix_timestamp(col("ts")).as("ep"))
        .as[(Long, Long)].collect()
      val input = MemoryStream[(Long, Long)]
      val q = input.toDF().toDF("user_id", "ep")
        .withColumn("ts", timestamp_seconds(col("ep")))
        .writeStream
        .foreachBatch(EventOps.activeDaysIngest("user_id", "ts", prefix))
        .start()
      for (chunk <- rows.grouped(rows.length / 3 + 1)) {
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      q.stop()
      val streamedFirst = spark.table(s"${prefix}_deltas")
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        .collect().map(r => (r.getLong(0), r.getDate(1))).toSet
      val batchFirst = rows.toSeq.toDF("user_id", "ep")
        .select(col("user_id"),
          to_date(timestamp_seconds(col("ep"))).as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        .collect().map(r => (r.getLong(0), r.getDate(1))).toSet
      assert(streamedFirst.nonEmpty && streamedFirst == batchFirst)
    } finally { Catalog.dropTables(spark, prefix); () }
  }
}
