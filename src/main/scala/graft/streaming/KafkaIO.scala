package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Kafka wiring for the pipeline (S3/S4/S5/K1/K2 in SURVEY.md §2.1-2.2).
  *
  * The sandbox has no broker, so these helpers are exercised indirectly
  * (the transforms they wrap are MemoryStream-tested); against a real
  * cluster they are the only difference between the test topology and
  * the deployed one — the reference's consumer groups, subscribe
  * patterns and per-message keyed producer map 1:1 onto Spark's Kafka
  * source/sink options.
  */
object KafkaIO {

  /** O4 — the frame source's option set, exposed as a pure function so
    * the poll-cap wiring is unit-testable without a broker:
    * `maxOffsetsPerTrigger` is Spark's per-micro-batch intake cap, the
    * analog of the reference's consumer poll bound
    * (/root/reference/src/prediction_producer.py:84-90). */
  def frameSourceOptions(bootstrap: String, topic: String,
      maxOffsetsPerTrigger: Long = 10000): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  /** O3 — emission pacing as a pure function of the configured period:
    * a positive period paces micro-batches with a processing-time
    * trigger (the reference sleeps between produces,
    * /root/reference/src/frame_producer.py:128-133); zero/negative
    * means as-fast-as-possible (no trigger). */
  def pacedTrigger(triggerMs: Long): Option[Trigger] =
    if (triggerMs > 0) Some(Trigger.ProcessingTime(triggerMs)) else None

  /** Subscribe to the raw-frame topic (S3: group-managed, earliest).
    * Returns typed frame columns via [[FrameMessages.fromWire]]. */
  def readFrames(spark: SparkSession, bootstrap: String, topic: String): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .options(frameSourceOptions(bootstrap, topic))
      .load()
    FrameMessages.fromWire(raw.select(col("value").cast("string").as("value")))
  }

  /** The wire projection the routed sink applies — the K1+K2 column
    * contract (`key`/`value` cast to string plus the per-row `topic`),
    * factored out so the broker sink and the file-backed emulation
    * below provably share it. */
  def routedWire(df: DataFrame): DataFrame =
    df.select(col("key").cast("string"), col("value").cast("string"), col("topic"))

  /** Keyed, dynamically-routed Kafka sink (K1+K2): expects `key`,
    * `value` and per-row `topic` columns (the sink honors `topic`
    * natively — no per-camera writer fan-out needed). Exactly-once via
    * checkpointing replaces the reference's commit-before-produce loss
    * window (/root/reference/src/prediction_producer.py:109-116). */
  def writeRouted(df: DataFrame, bootstrap: String, checkpoint: String,
      triggerMs: Long = 0L): DataStreamWriter[Row] = {
    val base = routedWire(df)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpoint)
    pacedTrigger(triggerMs).map(base.trigger).getOrElse(base)
  }

  /** Broker-free stand-in for [[writeRouted]]: the SAME wire projection,
    * but each topic becomes a `topic=<name>/` directory under `root`
    * (the file sink's partitionBy plays the per-topic log). Exists so
    * the routed-sink column contract can be executed end to end in a
    * sandbox with no broker and no kafka connector jar; swapping this
    * for [[writeRouted]] is a format-string change. */
  def writeRoutedFiles(df: DataFrame, root: String, checkpoint: String,
      triggerMs: Long = 0L): DataStreamWriter[Row] = {
    val base = routedWire(df)
      .writeStream
      .format("parquet")
      .partitionBy("topic")
      .option("path", root)
      .option("checkpointLocation", checkpoint)
    pacedTrigger(triggerMs).map(base.trigger).getOrElse(base)
  }

  /** Read one emulated topic (written by [[writeRoutedFiles]]) back as
    * typed frame columns — the broker-free twin of [[readFrames]],
    * sharing its [[FrameMessages.fromWire]] decode. */
  def readFramesFiles(spark: SparkSession, root: String, topic: String): DataFrame = {
    val raw = spark.readStream
      .schema("key STRING, value STRING")
      .parquet(s"$root/topic=$topic")
    FrameMessages.fromWire(raw.select(col("value")))
  }
}
