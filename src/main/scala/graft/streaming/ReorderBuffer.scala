package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One frame event on the display path. */
case class FrameEvent(camera: Int, frameNum: Long, epochMs: Long, payload: String)

/** Frame event with an event-time column (for the watermark variant). */
case class FrameEventTs(camera: Int, frameNum: Long, ets: java.sql.Timestamp, payload: String)

/** Per-camera reorder state: buffered frames + high-water mark. */
case class ReorderState(buffered: Seq[FrameEvent], nextFrame: Long)

/** Per-camera reorder state for the watermark variant. */
case class ReorderStateTs(buffered: Seq[FrameEventTs], nextFrame: Long)

/** Per-key streaming reorder — the reference's display-path heap
  * (SURVEY.md §2.8 O1/O2; /root/reference/src/utils.py:48-68: a min-heap
  * per camera keyed by frame_num, draining in order once `buffer_size`
  * frames are queued; frames older than the popped head are lost).
  *
  * Spark-native form: `flatMapGroupsWithState` over camera keys. Fixes
  * the reference's two defects deliberately (SURVEY.md §7.4): state is
  * bounded (maxBuffer cap evicts oldest-first instead of the unbounded
  * `data_dict`), and draining uses an explicit high-water mark so late
  * frames are dropped deterministically rather than racing the display
  * thread. At cluster scale each camera's state is one group — state
  * store partitions by key, no global coordination.
  */
object ReorderBuffer {

  /** @param emitThreshold start draining once this many frames buffered
    *                      (reference buffer_size: 180/600)
    * @param maxBuffer     hard state cap per key; oldest frames are
    *                      force-emitted beyond this (bounded state)
    * @param drainTimeout  optional processing-time idle timeout after
    *                      which a key's remaining buffer is flushed and
    *                      its state dropped. Leave None under the default
    *                      0ms trigger: ProcessingTimeTimeout makes each
    *                      micro-batch request a follow-up batch to
    *                      re-check deadlines, which with a 0ms trigger
    *                      degenerates into continuous empty batches.
    *                      Enable it only with a real trigger interval. */
  def reorder(events: Dataset[FrameEvent], emitThreshold: Int, maxBuffer: Int,
      drainTimeout: Option[String] = None): Dataset[FrameEvent] = {
    implicit val evEnc = Encoders.product[FrameEvent]
    implicit val stEnc = Encoders.product[ReorderState]
    implicit val intEnc = Encoders.scalaInt

    def update(camera: Int, it: Iterator[FrameEvent],
        state: GroupState[ReorderState]): Iterator[FrameEvent] = {
      val prev = state.getOption.getOrElse(ReorderState(Nil, Long.MinValue))
      // drop late frames (at or before the high-water mark), add rest
      val incoming = it.filter(_.frameNum > prev.nextFrame).toSeq
      var buffered = (prev.buffered ++ incoming).sortBy(_.frameNum)
      val out = Seq.newBuilder[FrameEvent]
      var next = prev.nextFrame
      // drain while above threshold (or hard state cap)
      while (buffered.size > maxBuffer || buffered.size >= emitThreshold) {
        val head = buffered.head
        out += head
        next = head.frameNum
        buffered = buffered.tail
      }
      if (state.hasTimedOut) {
        // idle key: flush the tail in order and drop the state
        buffered.foreach { f => out += f; next = f.frameNum }
        state.remove()
      } else {
        state.update(ReorderState(buffered, next))
        drainTimeout.foreach(state.setTimeoutDuration)
      }
      out.result().iterator
    }

    val timeoutConf =
      if (drainTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.camera)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(update _)
  }

  /** Event-time variant: buffer per camera, drain in frame order once
    * the watermark passes the newest buffered frame plus `lateness` —
    * the production-correct replacement for the reference's fixed-size
    * heap: buffer eviction and late-frame policy both derive from the
    * watermark instead of an arbitrary buffer_size (SURVEY.md §2.11:
    * "watermark + state TTL fixes both"). After a drain the per-key
    * high-water mark persists (one long per camera), so post-drain
    * stragglers are dropped deterministically rather than re-buffered.
    *
    * Input must carry an event-time column named `ets`; a watermark of
    * `lateness` is applied here.
    */
  def reorderByWatermark(events: DataFrame, latenessMs: Long): Dataset[FrameEventTs] = {
    implicit val evEnc = Encoders.product[FrameEventTs]
    implicit val stEnc = Encoders.product[ReorderStateTs]
    implicit val intEnc = Encoders.scalaInt
    val lateness = s"$latenessMs milliseconds"

    def update(camera: Int, it: Iterator[FrameEventTs],
        state: GroupState[ReorderStateTs]): Iterator[FrameEventTs] = {
      val prev = state.getOption.getOrElse(ReorderStateTs(Nil, Long.MinValue))
      val incoming = it.filter(_.frameNum > prev.nextFrame).toSeq
      val buffered = (prev.buffered ++ incoming).sortBy(_.frameNum)
      if (state.hasTimedOut) {
        // watermark passed newest-buffered + lateness: flush in order.
        // Keep the high-water mark (NOT state.remove()) so a straggler
        // arriving after the drain — older than frames already emitted
        // but still inside the watermark — is dropped instead of being
        // re-buffered and emitted out of order. The retained state is
        // one long per camera: bounded by the (small, fixed) key space.
        val next = if (buffered.nonEmpty) buffered.last.frameNum else prev.nextFrame
        state.update(ReorderStateTs(Nil, next))
        buffered.iterator
      } else if (buffered.isEmpty) {
        // nothing buffered (first sight of the key, or every incoming
        // frame was late): preserve the high-water mark, no timer needed
        state.update(ReorderStateTs(Nil, prev.nextFrame))
        Iterator.empty
      } else {
        state.update(ReorderStateTs(buffered, prev.nextFrame))
        val newestMs = buffered.map(_.ets.getTime).max
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(math.max(newestMs + latenessMs, wm + 1))
        Iterator.empty
      }
    }

    events
      .withWatermark("ets", lateness)
      .as[FrameEventTs]
      .groupByKey(_.camera)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update _)
  }
}
