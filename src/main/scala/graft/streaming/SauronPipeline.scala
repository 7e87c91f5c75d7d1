package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, SortArray}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.functions.VectorFunctions.fastSquaredL2
import graft.plans.{StampAfter, StubFacesMd5, StubFacesXx}

/** The eye_of_sauron topology as one declarative Spark program
  * (SURVEY.md §3: StreamVideo → ConsumeFrames(detect+embed) →
  * PredictFrames(match+annotate) → per-camera routed sink).
  *
  * Every stage is a pure column transform, so the same code runs batch
  * (driver oracle) and streaming (readStream → writeStream): the
  * reference's two Kafka-separated processes become narrow stages that
  * Spark pipelines without a shuffle, and the query-face set — the
  * reference's broadcast topic (its src/prediction_producer.py:222-228)
  * — is collected once, when the plan is built, into one literal column:
  * a streaming micro-batch runs a single job with no exchange.
  *
  * The face model is STUBBED deterministically (no dlib/OpenCV in a JVM
  * sandbox): detection count, boxes and encodings are derived from
  * xxhash64 of the frame bytes. The model slot is the pluggable point,
  * exactly as the reference documents ("Replace Face recognition model
  * with desired Image processing model" — /root/reference/README.md:38).
  *
  * The default model's native [[graft.plans.StubFacesXx]] kernel hashes
  * each frame once per row. Every native expression here (model,
  * matcher distance, latency stamp) is wrapped as a Column directly, so
  * building a plan — once per query, or once per micro-batch under
  * [[RefreshableTargets]] — never writes to the session's function
  * registry.
  */
object SauronPipeline {

  /** STUB of face_locations + face_encodings
    * (/root/reference/src/prediction_producer.py:128-161): 0-2 faces per
    * frame, each with a deterministic box and `dim`-d encoding derived
    * from the frame bytes. Returns array<struct<box:array<int>,
    * enc:array<double>>>. Evaluates through the native
    * [[graft.plans.StubFacesXx]] kernel, which hashes the frame once per
    * row; [[stubDetectColumns]] is the same model written with built-in
    * functions and stays as the spec's bit-exactness oracle. */
  def stubDetect(frame: Column, dim: Int): Column =
    GraftSqlBridge.column(StubFacesXx(GraftSqlBridge.expression(frame), dim))

  /** Declarative Column form of [[stubDetect]]: `xxhash64(frame, i, c)`
    * per face count, box coordinate and encoding element, i.e. the whole
    * frame hashed 1 + n·(4 + dim) times through interpreted lambdas —
    * retained so a spec can pin the native kernel bit-exact, schema
    * included, against the independent built-in-function construction. */
  private[graft] def stubDetectColumns(frame: Column, dim: Int): Column = {
    val nFaces = pmod(xxhash64(frame), lit(3)) // 0..2 faces
    val faces = transform(sequence(lit(1), nFaces), i => struct(
      array(Seq(0, 1, 2, 3).map(c => pmod(xxhash64(frame, i, lit(c)), lit(400)).cast("int")): _*).as("box"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        xxhash64(frame, i, d).cast("double") / lit(Long.MaxValue.toDouble)).as("enc")))
    // sequence(1, 0) yields the DESCENDING array [1, 0], not [] — guard
    // the zero-face case explicitly or every "faceless" frame grows two
    // phantom faces (slice(_, 1, 0) = typed empty array)
    when(nFaces > 0, faces).otherwise(slice(faces, 1, 0))
  }

  /** Engine-portable twin of [[stubDetect]]: every derived quantity
    * comes from md5 of the frame bytes (hex string `F`) instead of
    * xxhash64 — face count from the first 4 hex chars, box coords from
    * md5(F:b:i:c), encodings from the 52-bit prefix of md5(F:e:i:d)
    * scaled by 2^-52 (exact in BIGINT and DOUBLE on any engine). Same
    * shape and zero-face guard as [[stubDetect]]; exists so the full
    * topology (q60) is recomputable by the DuckDB oracle rather than
    * rows-only checked. Evaluates through the single-pass native
    * [[graft.plans.StubFacesMd5]] expression — the declarative
    * transform/sequence twin ([[stubDetectPortableColumns]], kept as
    * the spec's bit-exactness oracle) pays ~1+n·(4+dim) interpreted
    * md5 lambda evals per frame. The xxhash64 [[stubDetect]] stays the
    * default model: its kernel hashes the frame once, where this one
    * still takes 1 + n·(4 + dim) md5 digests per frame. */
  def stubDetectPortable(frame: Column, dim: Int): Column =
    GraftSqlBridge.column(StubFacesMd5(GraftSqlBridge.expression(frame), dim))

  /** Declarative Column form of [[stubDetectPortable]] — retained so a
    * spec can pin the native expression bit-exact against the
    * independent built-in-function construction. */
  private[graft] def stubDetectPortableColumns(frame: Column, dim: Int): Column = {
    val fh = md5(frame)
    def h52(s: Column): Column = conv(substring(md5(s), 1, 13), 16, 10).cast("long")
    val nFaces = conv(substring(fh, 1, 4), 16, 10).cast("long") % 3
    val faces = transform(sequence(lit(1L), nFaces), i => struct(
      array((0 until 4).map(c =>
        (h52(concat(fh, lit(":b:"), i.cast("string"), lit(":"), lit(c.toString))) % 400)
          .cast("int")): _*).as("box"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        h52(concat(fh, lit(":e:"), i.cast("string"), lit(":"), d.cast("string")))
          .cast("double") / lit(4503599627370496.0)).as("enc")))
    // sequence(1, 0) yields [1, 0], not [] — same guard as stubDetect
    when(nFaces > 0, faces).otherwise(slice(faces, 1, 0))
  }

  /** The pluggable model slot (P8): frame-bytes column → faces column
    * (array<struct<box:array<int>, enc:array<double>>>). The reference's
    * stated extension point — "Replace Face recognition model with
    * desired Image processing model" (/root/reference/README.md:38) —
    * as a first-class parameter: hand [[detectStage]] /[[process]] any
    * column expression with this shape and the whole topology
    * re-predicts with it. */
  type FaceModel = Column => Column

  /** Default model: the deterministic xxhash64 stub at 64 dims, one
    * native [[graft.plans.StubFacesXx]] evaluation per frame. */
  val defaultModel: FaceModel = stubDetect(_, 64)

  /** Stage 1 — ConsumeFrames: detect + embed with a pluggable model.
    * Adds `faces`. */
  def detectStage(frames: DataFrame, model: FaceModel): DataFrame =
    frames.withColumn("faces", model(col("frame")))

  /** [[detectStage]] with the stub model at `dim` dims. */
  def detectStage(frames: DataFrame, dim: Int = 64): DataFrame =
    detectStage(frames, stubDetect(_, dim))

  /** Partition-wise batched form of stage 1 — the Scala analog of a
    * vectorized `mapInPandas` model stage (same per-partition-handle +
    * batch-iteration contract as
    * [[graft.operators.Multimodal.decodeBatched]], restated here
    * join-free so it runs inside a streaming topology): one model
    * handle per partition, frames processed in batches of `batchSize`.
    * The stub handle reproduces [[stubDetect]] bit-exactly (tested), so
    * the two stage-1 forms are interchangeable; a real deployment swaps
    * [[StubFaceModelHandle]] for a native model/codec binding. */
  def detectStageBatched(frames: DataFrame, dim: Int = 64,
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val facesType = ArrayType(StructType(Seq(
      StructField("box", ArrayType(IntegerType, containsNull = false)),
      StructField("enc", ArrayType(DoubleType, containsNull = false)))))
    val outSchema = frames.schema.add("faces", facesType)
    val frameIdx = frames.schema.fieldIndex("frame")
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    frames.mapPartitions { rows =>
      val model = new StubFaceModelHandle(dim) // one handle per partition
      rows.grouped(batchSize).flatMap { batch =>
        model.detectBatch(batch.map(_.getAs[Array[Byte]](frameIdx)))
          .zip(batch).map { case (faces, row) => Row.fromSeq(row.toSeq :+ faces) }
      }
    }
  }

  /** Stage 2 — PredictFrames: match every detected face against the
    * target set (L2 <= tolerance, first match = lowest target id, else
    * "Unknown"), stamp per-frame prediction + latency.
    *
    * Shuffle-free by design: the target set is tiny (it is the
    * reference's per-query broadcast topic), so [[targetSet]] collects it
    * on the driver while the plan is built and folds it into ONE array
    * literal; per-face matching is then a pure array expression — no
    * join, no exchange, no explode/regroup, no stateful aggregation,
    * streaming-append-safe, and the stage pipelines with detect inside a
    * single narrow task at any scale. The set is read once: a streaming
    * query matches against the set read when its plan was built (see
    * [[RefreshableTargets]] for a set that changes).
    *
    * @param targets small DataFrame (t_id, t_name, t_enc: array<double>)
    *                — the query-face broadcast set
    */
  def predictStage(detected: DataFrame, targets: DataFrame, tolerance: Double): DataFrame =
    predictWith(detected, targetSet(targets), tolerance)

  /** The target set as one `array<struct<t_id, t_name, t_enc>>` literal,
    * sorted once on the driver by Catalyst's own `sort_array` (t_id
    * first, so the lowest id wins ties). A plain select-collect: a local
    * relation collects without a Spark job, and a Catalyst literal needs
    * no reflection. */
  private[streaming] def targetSet(targets: DataFrame): Column = {
    val set = targets.select(col("t_id"), col("t_name"), col("t_enc"))
    val dt = ArrayType(set.schema, containsNull = false)
    val unsorted = Literal(CatalystTypeConverters.createToCatalystConverter(dt)(set.collect()), dt)
    GraftSqlBridge.column(Literal(SortArray(unsorted, Literal(true)).eval(), dt))
  }

  private def predictWith(detected: DataFrame, tSet: Column, tolerance: Double): DataFrame = {
    // fastSquaredL2 (native expr) instead of the HOF fold: HOFs are
    // CodegenFallback, so everything inside this lambda runs interpreted
    // — the native expression's eval is one tight double loop per
    // candidate, the HOF fold is ~dim lambda evals. Squared-threshold
    // compare keeps sqrt out of the per-pair hot path.
    val firstMatch: Column => Column = enc => try_element_at(
      transform(
        filter(tSet,
          t => fastSquaredL2(enc, t.getField("t_enc")) <= tolerance * tolerance),
        t => t.getField("t_name")),
      lit(1))
    detected
      // annotations = zip(box_i, name_i) (J3); first match wins because
      // the set is sorted by t_id and filter preserves order (J2)
      .withColumn("annotations", transform(col("faces"), f => struct(
        f.getField("box").as("box"),
        coalesce(firstMatch(f.getField("enc")), lit("Unknown")).as("name"))))
      // prediction = first face's name (A1: face_names[0]); null if no faces
      .withColumn("prediction", try_element_at(col("annotations"), lit(1)).getField("name"))
      // stamped per row once its annotations are computed, as the
      // reference stamps each frame after predicting it
      .withColumn("predict_time",
        GraftSqlBridge.column(StampAfter(GraftSqlBridge.expression(col("annotations")))))
      // A2 latency in fractional seconds — deliberately NOT the
      // reference's int()-truncated form (SURVEY.md §7.4)
      .withColumn("latency_s",
        (unix_micros(col("predict_time")) - unix_micros(col("ts"))).cast("double") / 1e6)
      .drop("faces")
  }

  /** Full topology: frames → detect (pluggable model) → match/predict →
    * routed for the per-camera sink (K2). Works on batch and streaming
    * inputs. */
  def process(frames: DataFrame, targets: DataFrame, tolerance: Double,
      topicPrefix: String = "predicted_object_raw_frame_topic",
      model: FaceModel = defaultModel): DataFrame =
    processWith(frames, targetSet(targets), tolerance, topicPrefix, model)

  /** [[process]] with an already collected [[targetSet]]. */
  private[streaming] def processWith(frames: DataFrame, tSet: Column, tolerance: Double,
      topicPrefix: String, model: FaceModel): DataFrame =
    predictWith(detectStage(frames, model), tSet, tolerance)
      .withColumn("topic", FrameMessages.routedTopic(topicPrefix, col("camera")))
      .withColumn("key", FrameMessages.frameKey(col("camera"), col("frame_num")))
}

/** J4 — refreshable target set. The reference re-publishes query faces
  * at any time and predictors pick the new set up on their next poll
  * (its web/views.py:166-169 → src/prediction_producer.py:222-228).
  * [[SauronPipeline.process]] reads the set once, when its plan is
  * built, so the refreshable form runs the predict stage per
  * micro-batch under `foreachBatch` and re-collects the set at most once
  * per `refreshMs` (rate-limited — a hot loop of catalog reads would
  * throttle the stream at scale). The collected literal pins the set:
  * every batch until the next reload matches against it, whatever
  * happens to the loader's source in between.
  *
  * @param loadTargets re-reads the current target set (t_id, t_name,
  *                    t_enc) — e.g. a parquet/Delta path or catalog
  *                    table the UI writes to
  * @param sink        consumes each processed micro-batch (the Kafka
  *                    writer in production, a collector in tests)
  */
object RefreshableTargets {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.streaming.DataStreamWriter

  def writer(
      frames: DataFrame,
      loadTargets: SparkSession => DataFrame,
      tolerance: Double,
      refreshMs: Long,
      sink: (DataFrame, Long) => Unit,
      topicPrefix: String = "predicted_object_raw_frame_topic",
      model: SauronPipeline.FaceModel = SauronPipeline.defaultModel): DataStreamWriter[Row] = {
    // reload state lives on the driver (foreachBatch runs there).
    // A query RESTART resets it: the first post-restart batch reloads
    // the target set regardless of wall-clock — intentional (restart
    // must not serve a set pinned before the crash), at worst one
    // early reload.
    var tSet: Column = null
    var loadedAt = Long.MinValue
    frames.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val now = System.currentTimeMillis()
      if (tSet == null || now - loadedAt >= refreshMs) {
        tSet = SauronPipeline.targetSet(loadTargets(batch.sparkSession))
        loadedAt = now
      }
      sink(SauronPipeline.processWith(batch, tSet, tolerance, topicPrefix, model), batchId)
    }
  }
}

/** STUB per-partition model handle backing
  * [[SauronPipeline.detectStageBatched]]: evaluates the same per-frame
  * function as the [[graft.plans.StubFacesXx]] kernel behind
  * [[SauronPipeline.stubDetect]] (one implementation, so the two
  * stage-1 forms cannot drift apart), standing in for the expensive
  * native model a real deployment initializes once per partition. */
private[streaming] final class StubFaceModelHandle(dim: Int) extends Serializable {
  import org.apache.spark.sql.Row

  def detectBatch(frames: Seq[Array[Byte]]): Seq[Seq[Row]] =
    frames.map(bytes => StubFacesXx.faces(bytes, dim).toSeq.map { case (box, enc) =>
      Row(box.toSeq, enc.toSeq)
    })
}
