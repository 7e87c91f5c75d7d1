package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator — the (c) tier of the build
  * mandate (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`): for
  * every left row, attach the latest right row of the same key whose
  * time is at or before the left row's time (the kdb/polars `asof`,
  * the reference's "latest detection for this camera at this frame"
  * lookup generalized). `direction = "forward"` mirrors it: the
  * EARLIEST right row at or after the left time ("next view after this
  * purchase") — big-big forward as-of with the same two-linear-shuffle
  * plan, no broadcast size assumption. `direction = "nearest"` picks
  * whichever of the backward/forward candidates is closer in time
  * (strictly closer forward wins, ties go backward) — still one merge
  * pass, with the forward candidate read from the un-consumed right
  * head.
  *
  * Why a physical operator when q115 already composes the same
  * semantics from a tag-union + window: the composed form materializes
  * BOTH relations through one window with the matched row riding as a
  * struct — fine, but it carries the union through a single sort and
  * cannot stream the right side. This exec declares
  * (key-clustered, (key, time)-sorted) requirements on BOTH children —
  * Catalyst inserts exactly one exchange+sort per side, co-partitioned
  * — and then each partition is ONE forward merge pass with O(1) state
  * (the last right row per key), never a buffered history. At 100 TB:
  * two linear shuffles, zero window buffers, no struct detour.
  *
  * Left rows always survive (left-outer as-of); right columns are
  * nullable in the output. Ties (right.time == left.time) match; among
  * equal times the LAST right row in (key, time) sort order wins for
  * backward and the FIRST for forward — deterministic when (key, time)
  * is unique per side. */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    direction: String = "backward") extends BinaryNode {
  require(Seq("backward", "forward", "nearest").contains(direction),
    s"AsOfJoin: unknown direction $direction")
  // nearest needs a numeric time DISTANCE, not just an ordering
  require(direction != "nearest" || (leftTime.dataType match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }), s"AsOfJoin nearest: time type ${leftTime.dataType} has no distance")
  // an int-vs-long mismatch would otherwise silently read garbage
  // through the wrong accessor — fail analysis instead
  require(leftKey.dataType == rightKey.dataType,
    s"AsOfJoin: key types differ (${leftKey.dataType} vs ${rightKey.dataType})")
  require(leftTime.dataType == rightTime.dataType,
    s"AsOfJoin: time types differ (${leftTime.dataType} vs ${rightTime.dataType})")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsOfJoin → [[AsOfJoinExec]]. Registered via
  * `spark.experimental.extraStrategies` by `EventOps.asOfJoinNative`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, dir) =>
      AsOfJoinExec(lk, rk, lt, rt, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join: children arrive key-clustered and
  * (key, time)-sorted (declared requirements — EnsureRequirements
  * plans the exchanges/sorts), then one forward pass per partition.
  * Backward keeps a single retained right row as state; forward keeps
  * none — the match is the right head after discarding passed rows. */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, direction: String,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val lSchema = left.output
    val rSchema = right.output
    val outSchema = output
    val lk = leftKey; val rk = rightKey; val lt = leftTime; val rt = rightTime
    val forward = direction == "forward"
    val nRight = rSchema.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key, time) extractors — bound UnsafeProjections, one per side
      val lProj = UnsafeProjection.create(Seq(lk, lt), lSchema)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rSchema)
      // result rows leave as UnsafeRow so a parent exchange/collect can
      // cast them (SortMergeJoinExec does the same)
      val resProj = UnsafeProjection.create(outSchema, outSchema)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      val kDt = lk.dataType; val tDt = lt.dataType
      val nearest = direction == "nearest"
      // nearest needs |Δt| — internal reps are all numeric (timestamps
      // are micros-as-long, dates days-as-int)
      def timeVal(t: Any): Double = t match {
        case n: java.lang.Number => n.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case other => throw new IllegalStateException(
          s"asof nearest: non-numeric time $other")
      }
      val rBuf = rIter.buffered
      // backward/nearest merge state: latest consumed right row + key
      var lastRight: InternalRow = null
      var lastKey: Any = null
      var lastTime: Any = null
      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lkt = lProj(l)
          val lKey = lkt.get(0, kDt)
          val lTime = lkt.get(1, tDt)
          var advance = lKey != null // null left keys match nothing
          var fwdMatch = false
          var fwdTime: Any = null
          while (advance && rBuf.hasNext) {
            val rkt = rProj(rBuf.head)
            val rKey = rkt.get(0, kDt)
            val rTime = rkt.get(1, tDt)
            if (rKey == null || rTime == null) { rBuf.next(); () } // skip
            else {
              val c = keyOrd.compare(rKey.asInstanceOf[AnyRef],
                lKey.asInstanceOf[AnyRef])
              val tc = if (c == 0)
                timeOrd.compare(rTime.asInstanceOf[AnyRef],
                  lTime.asInstanceOf[AnyRef]) else 0
              if (forward) {
                // discard rows strictly behind this left row; the match
                // (if any) is the surviving head — NOT consumed, later
                // left rows may share it
                if (c < 0 || (c == 0 && tc < 0)) { rBuf.next(); () }
                else { fwdMatch = c == 0; advance = false }
              } else if (c < 0 || (c == 0 && tc <= 0)) {
                // backward + nearest: consume rows at or behind lTime,
                // retaining the latest as the backward candidate
                lastRight = rBuf.next().copy()
                lastKey = rKey match {
                  case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
                  case other => other
                }
                lastTime = rTime
              } else {
                // head is ahead; for nearest a same-key head is the
                // forward candidate (not consumed — shared by later
                // left rows)
                fwdMatch = nearest && c == 0
                fwdTime = rTime
                advance = false
              }
            }
          }
          val backMatched = !forward && lKey != null && lastKey != null &&
            keyOrd.compare(lastKey.asInstanceOf[AnyRef],
              lKey.asInstanceOf[AnyRef]) == 0
          val r =
            if (forward) { if (fwdMatch) rBuf.head else nullRight }
            else if (nearest && fwdMatch &&
                (!backMatched ||
                 math.abs(timeVal(fwdTime) - timeVal(lTime)) <
                   math.abs(timeVal(lTime) - timeVal(lastTime)))) {
              rBuf.head // strictly closer forward row wins; ties backward
            }
            else if (backMatched) lastRight
            else nullRight
          resProj(joined(l, r))
        }
      }
    }
  }
}
