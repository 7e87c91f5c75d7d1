package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.motifCorr

/** Per-user funnel progress carried across micro-batches: the longest
  * in-order prefix reached, its start time, and the completion time of
  * the deepest step. */
case class FunnelState(depth: Int, t1: Long, ti: Long)

/** The open SCD2 interval carried across micro-batches: current
  * attribute value, its version number, and when it became valid. */
case class Scd2State(tier: Int, version: Int, from: Long)

/** Ordered-sequence analytics over event streams — the conversion-funnel
  * family every product/ops pipeline runs next to the reference's
  * event-time metrics (SURVEY.md §2.8 generalized the way A2/q18 were).
  * Batch forms here; the streaming twins ride the same per-user keyed
  * shapes as [[graft.streaming.ReorderBuffer]].
  */
object EventOps {

  /** Conversion funnel: for an ordered step sequence (e.g. view →
    * click → purchase), count the users whose events complete each
    * prefix IN ORDER — step i must occur at or after the user's
    * earliest completion time of step i−1, and (optionally) within
    * `horizonSec` of the step-1 time.
    *
    * Execution is k−1 rounds of (filter one event type) ⋈ (per-user
    * reached-set) — each round a map-side-combined `min` keyed on the
    * user, so every shuffle carries at most one row per surviving user
    * and the reached set only shrinks. No per-user event lists are ever
    * materialized (a collect_list/fold funnel holds a user's whole
    * history in one buffer — the hot-key OOM shape at 100 TB); the
    * k-pass form is the associative/partial-aggregatable one. At scale
    * the k joins co-hash on the user key, so AQE plans them without
    * re-partitioning the (tiny) reached side more than once.
    *
    * Output: (step_idx, step, n_users, conv_overall, conv_prev) — one
    * row per step, conversion ratios rounded to `roundTo`.
    */
  def funnel(events: DataFrame, user: String, typeCol: String, tsCol: String,
      steps: Seq[String], horizonSec: Long = Long.MaxValue,
      roundTo: Int = 9): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step")
    require(steps.distinct.size == steps.size, "funnel: steps must be distinct")
    val spark = events.sparkSession
    import spark.implicits._

    val ep = unix_timestamp(col(tsCol))
    // reached(i): (user, t1, ti) — earliest in-order completion times
    // LAZY localCheckpoint per level: level i's plan nests levels
    // 1..i-1, and the per-step union below references every level —
    // without the checkpoint the union re-executes each prefix chain
    // per branch, scanning events O(k^2) times instead of k. The
    // materialized relation is one row per surviving user. Lazy is not
    // job-free: under AQE (Spark's default, on in every session the
    // mains and tests build) localCheckpoint(false) plans its RDD
    // through the adaptive plan, which runs the level's shuffle-map
    // stages while the DataFrame is built; only the final stage waits
    // for the consuming job. Measured on a groupBy over range,
    // local[4]: 1 build-time job with AQE on, 0 with it off.
    val step1 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(user)).agg(min(ep).as("t1"))
      .withColumn("ti", col("t1"))
      .localCheckpoint(false)
    val reached: Seq[DataFrame] = steps.indices.drop(1).scanLeft(step1) {
      (prev, i) =>
        events.filter(col(typeCol) === steps(i))
          .select(col(user), ep.as("e"))
          .join(prev, user)
          .filter(col("e") >= col("ti") &&
            (if (horizonSec == Long.MaxValue) lit(true)
             else col("e") <= col("t1") + horizonSec))
          .groupBy(col(user))
          .agg(min(col("t1")).as("t1"), min(col("e")).as("ti"))
          .localCheckpoint(false)
    }
    val counts = reached.zipWithIndex.map { case (df, i) =>
      df.groupBy().agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
          col("n_users"))
    }.reduce(_ unionAll _)
    // k rows total: single-partition window is free here
    val w = Window.orderBy(col("step_idx"))
    def conv(den: Column): Column = when(den === 0, lit(0.0))
      .otherwise(round(col("n_users").cast("double") / den, roundTo))
    counts
      .withColumn("conv_overall", conv(
        first(col("n_users")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow))))
      .withColumn("conv_prev", conv(
        coalesce(lag(col("n_users"), 1).over(w), col("n_users"))))
      .orderBy(col("step_idx"))
  }

  /** Streaming twin of [[funnelUsers]]: per-user keyed state
    * ([[FunnelState]]) folded forward with `mapGroupsWithState` —
    * state is three numbers per user whatever the stream length.
    * Within a batch, events fold in (time, step-index) order so a
    * same-second later step still counts (the batch `>=` semantics);
    * ACROSS batches arrivals are assumed time-ordered per user — feed
    * disordered sources through
    * [[graft.streaming.ReorderBuffer]] first (the composition the
    * reference's O1 buffer exists for). The greedy earliest-occurrence
    * fold equals the batch k-pass min construction: both pick the
    * earliest in-order completion of every prefix.
    *
    * Works identically on a batch DataFrame (state starts empty, one
    * group pass) — StreamingSpec proves streamed == batch.
    *
    * Emits (user, steps_completed, t_first, t_last) per updated user
    * per trigger (update mode); all three are monotone, so the latest
    * row per user is the answer. */
  def funnelUsersIngest(events: DataFrame, user: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      horizonSec: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val ds = events.select(col(user).cast("long").as("u"),
        col(typeCol).as("et"), unix_timestamp(col(tsCol)).as("ep"))
      .as[(Long, String, Long)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[FunnelState, (Long, Int, Long, Long)](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
        val ordered = it.toArray
          .filter(e => stepIdx.contains(e._2))
          .sortBy(e => (e._3, stepIdx(e._2)))
        for ((_, et, ep) <- ordered) {
          if (st.depth < steps.size && stepIdx(et) == st.depth &&
              (st.depth == 0 ||
                (ep >= st.ti &&
                  (horizonSec == Long.MaxValue || ep <= st.t1 + horizonSec)))) {
            st = if (st.depth == 0) FunnelState(1, ep, ep)
                 else FunnelState(st.depth + 1, st.t1, ep)
          }
        }
        state.update(st)
        (uid, st.depth, st.t1, st.ti)
      }
      .filter(_._2 > 0)
      .toDF(user, "steps_completed", "t_first", "t_last")
  }

  /** STREAMING SCD Type-2 maintenance — the incremental twin of the
    * q143 batch build: per-key state holds only the OPEN interval
    * (value, version, valid_from); a change event closes it (emitting
    * the finished [valid_from, valid_to) version) and opens the next.
    * State is O(1) per key forever — the closed history lives in the
    * sink, never in state — which is what makes dimension maintenance
    * streamable at 100 TB.
    *
    * Contract matches [[funnelUsersIngest]]: events must arrive
    * per-key time-ordered ACROSS batches (within a batch they are
    * sorted here); compose with [[graft.streaming.ReorderBuffer]]
    * upstream for disordered sources — StreamingSpec executes that
    * composition for the funnel and the same applies here.
    *
    * Emits, per trigger: every interval CLOSED in that trigger plus a
    * snapshot of the key's open interval (valid_to null). Update-mode
    * dedup per (key, version): valid_from = min, valid_to = max
    * (null only if never closed), is_current = valid_to IS NULL —
    * StreamingSpec proves the deduped stream equals the batch q143
    * build exactly.
    *
    * Output: (`user`, version, valid_from, valid_to, tier) on epoch
    * seconds; runs identically on a batch DataFrame (state starts
    * empty, one group pass). */
  def scd2Ingest(events: DataFrame, user: String, tsCol: String,
      tieCol: String, tierCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(col(user).cast("long").as("u"),
        unix_timestamp(col(tsCol)).as("ep"),
        col(tieCol).cast("long").as("tie"),
        col(tierCol).cast("int").as("tier"))
      .as[(Long, Long, Long, Int)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, (Long, Int, Long, Option[Long], Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val ordered = it.toArray.sortBy(e => (e._2, e._3))
        var st = state.getOption
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Option[Long], Int)]
        for ((_, ep, _, tier) <- ordered) {
          st match {
            case None =>
              st = Some(Scd2State(tier, 1, ep))
            case Some(cur) if cur.tier != tier =>
              out += ((uid, cur.version, cur.from, Some(ep), cur.tier))
              st = Some(Scd2State(tier, cur.version + 1, ep))
            case _ => () // unchanged value: no new version
          }
        }
        st.foreach { cur =>
          state.update(cur)
          out += ((uid, cur.version, cur.from, None, cur.tier))
        }
        out.iterator
      }
      .toDF(user, "version", "valid_from", "valid_to", "tier")
  }

  /** As-of join (each left row matched to the LATEST right row with
    * rightTime ≤ leftTime on the same key) via the union+window form:
    * tag both sides, union, one per-key ordered window carries the last
    * right-side row forward, keep the left rows. ONE shuffle on the
    * join key for any input sizes — the range-join form
    * (`l JOIN r ON key AND r.t <= l.t` + max) expands every left row
    * by its whole right history before aggregating, quadratic per key
    * at 100 TB; this form is linear and sort-merge friendly.
    *
    * The matched right row travels as ONE struct, so its columns can't
    * mix across rows when some are null. Ties: a right row at exactly
    * leftTime matches (≤ semantics — right sorts before left at equal
    * time); multiple right rows at the same (key, time) resolve to the
    * greatest `rTie` (deterministic, engine-exact).
    *
    * Output: key, `lTime`, `lCols`*, asof_t (matched rightTime, null if
    * no earlier right row), `rCols`* (null likewise). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      lTime: String, rTime: String,
      lCols: Seq[String], rCols: Seq[String], rTie: String): DataFrame = {
    val rv = struct((col(rTime).as("asof_t") +: rCols.map(col)): _*)
    val l = left.select(
      (col(key) +: col(lTime).as("t") +: lit(1).as("side") +:
        lit(0L).as("tie") +: lCols.map(col) :+
        lit(null).cast(right.select(rv).schema.head.dataType).as("rv")): _*)
    val r = right.select(
      (col(key) +: col(rTime).as("t") +: lit(0).as("side") +:
        col(rTie).cast("long").as("tie") +: lCols.map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)) :+ rv.as("rv")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("t"), col("side"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("m", last(col("rv"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select((col(key) +: col("t").as(lTime) +: lCols.map(col) :+
        col("m.asof_t").as("asof_t")) ++
        rCols.map(c => col(s"m.$c").as(c)): _*)
  }

  /** Per-user funnel reach: the row-level companion of [[funnel]] —
    * (user, steps_completed, t_first, t_last) where steps_completed is
    * the longest in-order prefix the user finished. Same k-pass
    * reached-set construction; the per-step sets coalesce right-to-left
    * so each user reports the deepest step reached. */
  def funnelUsers(events: DataFrame, user: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      horizonSec: Long = Long.MaxValue): DataFrame = {
    require(steps.nonEmpty, "funnelUsers: at least one step")
    val ep = unix_timestamp(col(tsCol))
    // lazy per-level checkpoint — same O(k) vs O(k^2) rationale as
    // [[funnel]]: the union below references every nested level. Under
    // AQE each level's shuffle-map stage still runs at build time (see
    // [[funnel]]), so building this DataFrame runs Spark jobs.
    val step1 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(user)).agg(min(ep).as("t1"))
      .withColumn("ti", col("t1"))
      .localCheckpoint(false)
    val reached: Seq[DataFrame] = steps.indices.drop(1).scanLeft(step1) {
      (prev, i) =>
        events.filter(col(typeCol) === steps(i))
          .select(col(user), ep.as("e"))
          .join(prev, user)
          .filter(col("e") >= col("ti") &&
            (if (horizonSec == Long.MaxValue) lit(true)
             else col("e") <= col("t1") + horizonSec))
          .groupBy(col(user))
          .agg(min(col("t1")).as("t1"), min(col("e")).as("ti"))
          .localCheckpoint(false)
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.select(col(user), lit(i + 1).as("d"), col("t1"), col("ti"))
    }.reduce(_ unionAll _)
      .groupBy(col(user))
      .agg(max(col("d")).as("steps_completed"),
        min(col("t1")).as("t_first"), max(col("ti")).as("t_last"))
  }

  /** AS-OF JOIN through the custom physical operator
    * ([[graft.plans.AsOfJoinExec]] — the mandate's (c) tier): for each
    * left row, the latest right row of the same key with time at or
    * before the left time; left-outer, right columns nullable. The
    * planner strategy registers itself on first use
    * (`spark.experimental.extraStrategies`); Catalyst then plans ONE
    * exchange + sort per side and the exec merges each co-partition in
    * a single forward pass with O(1) state — no window buffers, no
    * tag-union detour (contrast q115's composed form).
    *
    * Ties on (key, time) are broken by right sort order, so pass a
    * time expression that is UNIQUE per key (e.g. a (epoch, id)
    * composite) for deterministic results.
    *
    * `direction = "forward"` flips the match to the EARLIEST right row
    * at or after the left time — big-big "next event after" with the
    * same one-exchange-one-sort-per-side plan (no broadcast size
    * assumption, contrast [[asOfJoinBroadcast]]). `direction =
    * "nearest"` picks whichever of the backward/forward candidates has
    * the smaller |Δtime| (ties → backward; time type must be numeric/
    * timestamp so a distance exists) — same merge pass, state still
    * one retained row plus the un-consumed head. */
  def asOfJoinNative(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      direction: String = "backward"): DataFrame = {
    import graft.plans.{AsOfJoin, AsOfJoinStrategy}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lp = left.queryExecution.analyzed
    // fresh exprIds on the right so self-joins (same source both sides)
    // don't alias attributes across children
    val rp0 = right.queryExecution.analyzed
    val rp = Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
        n: String) = out.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"asOfJoinNative: no column $n"))
    val plan = AsOfJoin(lp, rp,
      attr(lp.output, leftKey), attr(rp.output.map(_.toAttribute), rightKey),
      attr(lp.output, leftTime), attr(rp.output.map(_.toAttribute), rightTime),
      direction)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
  }

  /** Broadcast as-of join — the zero-left-shuffle sibling of
    * [[asOfJoinNative]] for a SMALL right side (device state, camera
    * telemetry, reference curves): the right relation folds into one
    * sorted history array per key, broadcasts, and each left row
    * resolves its match with a pure projection over the equi-joined
    * history — the LEFT (big) side never shuffles, the batch analog of
    * the reference's stream-static broadcast join (J4).
    *
    * Per-row match cost is linear in the key's history length (bounded
    * by assumption — that's what makes the side broadcastable); ties on
    * `rTime` resolve by the sort order of the payload struct
    * (deterministic when (time, payload) is unique).
    *
    * The right side must be GENUINELY bounded — a dimension, a
    * calibration table, a reference-curve set — not a data-proportional
    * relation: the folded histories are built on the driver-broadcast
    * path and copied to every executor, so a right side that grows with
    * the corpus eventually OOMs the driver at scale. Like the exact
    * similarity baselines ([[Similarity.DefaultExactLimit]]), the
    * operator REFUSES oversized inputs (`maxRightRows`, checked with an
    * early-exit limit probe) instead of silently becoming the job that
    * dies at 100 TB; big-big as-of belongs in [[asOfJoinNative]].
    * Right rows with a null `rTime` carry no position on the time axis
    * and are dropped before folding (they would otherwise sort last and
    * masquerade as forward matches).
    *
    * Output: left columns + asof_t + `rCols` (null when no history row
    * at or before the left time). */
  def asOfJoinBroadcast(left: DataFrame, right: DataFrame, key: String,
      lTime: String, rTime: String, rCols: Seq[String],
      direction: String = "backward",
      maxRightRows: Long = 1L << 20): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asOfJoinBroadcast: unknown direction $direction")
    val rightFiltered = right.filter(col(rTime).isNotNull)
    val rightBounded =
      if (maxRightRows < Long.MaxValue) {
        // limit probe FIRST (early-exits on raw relations, so a 100 TB
        // right side is refused without a full pass), THEN checkpoint
        // the now-proven-small dimension so every execution of the
        // returned query reuses the materialized rows instead of
        // re-deriving the dimension per run
        val probe = rightFiltered.limit(
          (maxRightRows + 1).min(Int.MaxValue.toLong).toInt).count()
        require(probe <= maxRightRows,
          s"asOfJoinBroadcast: right side exceeds $maxRightRows rows — it " +
            "broadcasts in full, so it must be a bounded dimension; use " +
            "asOfJoinNative for big-big as-of (or raise maxRightRows " +
            "explicitly if the side truly fits)")
        rightFiltered.localCheckpoint()
      } else rightFiltered
    val entry = struct((col(rTime).as("_t") +: rCols.map(col)): _*)
    val idx = rightBounded.groupBy(col(key))
      .agg(array_sort(collect_list(entry)).as("_hist"))
    val lt = col(lTime)
    val hist = col("_hist")
    // backward candidate: last entry with t <= lt; forward: first with
    // t >= lt — both O(history) index arithmetic over the sorted array
    val nLe = size(filter(hist, e => e.getField("_t") <= lt))
    val nLt = size(filter(hist, e => e.getField("_t") < lt))
    val back = when(hist.isNotNull && nLe > 0, element_at(hist, nLe))
    val fwd = when(hist.isNotNull && nLt < size(hist),
      element_at(hist, nLt + 1))
    val matched = direction match {
      case "backward" => back
      case "forward" => fwd
      case "nearest" => // tie → backward (the earlier row)
        when(back.isNull, fwd).when(fwd.isNull, back)
          .when(abs(fwd.getField("_t") - lt) < abs(lt - back.getField("_t")),
            fwd)
          .otherwise(back)
    }
    val leftCols = left.columns.toSeq.map(col)
    left.join(broadcast(idx), Seq(key), "left")
      .withColumn("_m", matched)
      .select(leftCols ++ (col("_m").getField("_t").as("asof_t") +:
        rCols.map(c => col("_m").getField(c).as(c))): _*)
  }

  /** Kaplan–Meier survival estimator over event streams: time from a
    * user's first `isStart` event to their first subsequent `isEvent`
    * event, right-censored at last activity for users who never
    * convert — the classic time-to-event curve (here: "how long until
    * a viewer purchases"), with the product-limit estimate
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ).
    *
    * Exactness/scale shape: per-user reduction is one min/max
    * aggregate; risk sets come from ONE pass over the bounded distinct-
    * duration relation (≤ study length in buckets, never per-user
    * rows) via a cumulative window; the running product is computed as
    * exp(Σ ln terms) with the ln terms rounded to 12 and accumulated
    * as DECIMAL — order-independent, so any engine re-derives the
    * curve bit-for-bit. A duration where the whole risk set converts
    * (d = n) drops survival to exactly 0 without touching ln(0).
    *
    * Output per distinct event duration (ascending): (dur, n_risk,
    * n_events, survival). */
  def kaplanMeier(events: DataFrame, user: String, epCol: String,
      isStart: Column, isEvent: Column, bucketSec: Long = 86400,
      roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perUser = events.groupBy(col(user)).agg(
      min(when(isStart, col(epCol))).as("t0"),
      max(col(epCol)).as("t_last"),
      min(when(isEvent, col(epCol))).as("te_any"))
    val u = perUser.filter(col("t0").isNotNull)
      .withColumn("te", when(col("te_any") >= col("t0"), col("te_any")))
      .withColumn("observed", col("te").isNotNull)
      .withColumn("dur",
        floor((coalesce(col("te"), col("t_last")) - col("t0")) /
          lit(bucketSec.toDouble)).cast("long"))
    val byDur = u.groupBy(col("dur")).agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("c"))
    // grand total as a 1-row scalar aggregate crossJoined in (the q136
    // shape) — building the query plans ZERO jobs, and at scale the
    // total derives from the already-bounded per-duration relation
    // instead of a second pass over the per-user rows
    val total = byDur.groupBy().agg(sum(col("c")).as("_total"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.crossJoin(total)
      .withColumn("n_risk",
        col("_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("term", when(col("d") < col("n_risk"),
        round(log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")), 12)
          .cast(DecimalType(28, 12))).otherwise(lit(null)))
      .withColumn("extinct",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
      .withColumn("survival", when(col("extinct") === 1, lit(0.0))
        .otherwise(round(exp(sum(col("term")).over(wCum).cast("double")), roundTo)))
      .select(col("dur"), col("n_risk"), col("d").as("n_events"), col("survival"))
      .orderBy(col("dur"))
  }

  /** Nelson–Aalen cumulative hazard — [[kaplanMeier]]'s estimator
    * sibling (KM answers "what fraction survives to t", NA answers
    * "how much hazard accumulated by t"; NA is the additive form
    * regression diagnostics prefer). Shares KM's spine discipline: the
    * corpus collapses to one bounded (duration, deaths, at-risk)
    * relation, and the increment sum runs over THAT spine only.
    *
    * Portability: each increment d/n is an IEEE division of identical
    * integers, snapped to the 1e-12 grid and cumulated as exact longs
    * — the float CUMSUM (whose accumulation order engines don't
    * promise) never happens. Grid ties are impossible for n ≤ 8191:
    * 1e12·d/n sits exactly on .5 only if n divides 2e12·d with an odd
    * quotient, and 2e12/n keeps a factor of 2 for every such n.
    *
    * Output: (dur, n_risk, n_events, cum_hazard) at event durations. */
  def nelsonAalen(events: DataFrame, user: String, epCol: String,
      isStart: Column, isEvent: Column, bucketSec: Long = 86400): DataFrame = {
    val perUser = events.groupBy(col(user)).agg(
      min(when(isStart, col(epCol))).as("t0"),
      max(col(epCol)).as("t_last"),
      min(when(isEvent, col(epCol))).as("te_any"))
    val u = perUser.filter(col("t0").isNotNull)
      .withColumn("te", when(col("te_any") >= col("t0"), col("te_any")))
      .withColumn("observed", col("te").isNotNull)
      .withColumn("dur",
        floor((coalesce(col("te"), col("t_last")) - col("t0")) /
          lit(bucketSec.toDouble)).cast("long"))
    val byDur = u.groupBy(col("dur")).agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("c"))
    val total = byDur.groupBy().agg(sum(col("c")).as("_total"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.crossJoin(total)
      .withColumn("n_risk",
        col("_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("term_g",
        round(lit(1e12) * col("d").cast("double") / col("n_risk").cast("double"))
          .cast("long"))
      .withColumn("cum_hazard",
        sum(col("term_g")).over(wCum).cast("double") / lit(1e12))
      .select(col("dur"), col("n_risk"), col("d").as("n_events"),
        col("cum_hazard"))
      .orderBy(col("dur"))
  }

  /** Time-series subsequence similarity search (the UCR/MASS motif
    * query, batch form): slide a length-L window along each key's
    * value series, z-normalize each window, and rank windows by
    * normalized correlation against a z-normalized query `pattern` —
    * "where does this shape occur in each user's signal". The
    * distributed shape of the EDBT'19 streaming-similarity problem on
    * Spark primitives.
    *
    * Scale design: ONE key shuffle (the per-key ordered window);
    * windows materialize as L-element arrays per row (L ≤ ~10² —
    * bounded, no per-key history buffer); z-norm and the correlation
    * are per-row left-assoc array folds (engine-deterministic, the
    * cosine-parity precedent); per-key top-k cuts through
    * WindowGroupLimit. The query pattern is a literal — no second
    * input to broadcast.
    *
    * Constant (zero-variance) windows carry no shape and are skipped.
    * Output: (key, start_id, corr, rank) — top `k` windows per key by
    * (corr DESC, start id). */
  def motifTopK(events: DataFrame, key: String, orderCol: String,
      idCol: String, valueCol: String, pattern: Seq[Double], k: Int,
      roundTo: Int = 6): DataFrame = {
    val L = pattern.length
    require(L >= 2, "motifTopK: pattern needs >= 2 points")
    require(k >= 1, "motifTopK: k must be >= 1")
    val pMean = pattern.sum / L
    val pVar = pattern.map(x => (x - pMean) * (x - pMean)).sum / L
    require(pVar > 0, "motifTopK: constant pattern has no shape")
    val pSd = math.sqrt(pVar)
    val zq = pattern.map(x => (x - pMean) / pSd)
    val w = Window.partitionBy(col(key))
      .orderBy(col(orderCol), col(idCol))
      .rowsBetween(Window.currentRow, L - 1)
    val windows = events
      .select(col(key), col(idCol).as("start_id"),
        collect_list(col(valueCol)).over(w).as("win"))
      .filter(size(col("win")) === L)
    // ONE fused native pass per window (motif_corr) instead of three
    // interpreted HOF folds — identical strict left-to-right double
    // arithmetic (see MotifCorr), so rows and hashes are unchanged;
    // rounding stays the built-in round()
    val scored = windows
      .withColumn("mc", motifCorr(col("win"), zq.toArray))
      .filter(col("mc.v") > 0)
      .withColumn("corr", round(col("mc.corr"), roundTo))
    val rankW = Window.partitionBy(col(key))
      .orderBy(col("corr").desc, col("start_id"))
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col(key), col("start_id"), col("corr"), col("rank"))
  }

  /** DAU / trailing-`windowDays` WAU / stickiness from a DISTINCT
    * (user, day) activity relation — the shared core of the batch query
    * and [[activeDaysIngest]]'s merged reader. The trailing window
    * unrolls into `windowDays` explicit day-offset equi-joins (a
    * distinct-count-over-range window is not partial-aggregatable;
    * day-offset joins are, and the expansion factor is the window
    * length, never the corpus).
    * Output: (day: timestamp, dau, wau, stickiness). */
  def dauWau(active: DataFrame, user: String = "user_id",
      day: String = "day", windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "dauWau: window must be >= 1 day")
    val spark = active.sparkSession
    import spark.implicits._
    val a = active.select(col(user).as("u"), col(day).as("dy"))
      .localCheckpoint()
    val dau = a.groupBy(col("dy")).agg(countDistinct(col("u")).as("dau"))
    val offsets = (0 until windowDays).toDF("off")
    val wau = dau.select(col("dy"))
      .crossJoin(broadcast(offsets))
      .join(a.select(col("u"), col("dy").as("d2")),
        col("d2") === date_sub(col("dy"), col("off")))
      .groupBy(col("dy"))
      .agg(countDistinct(col("u")).as("wau"))
    dau.join(wau, Seq("dy"))
      .select(col("dy").cast("timestamp").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Streaming activity maintenance: per-batch DISTINCT (user, day)
    * pairs landed as idempotent delta partitions (the
    * [[Sketches.writeDelta]] contract — replay overwrites, stale
    * batches skip). State per batch is bounded by active (user, day)
    * pairs, not events; distinct-of-union == union-of-distincts, so the
    * merged reader equals the one-shot batch answer. */
  def activeDaysIngest(user: String, tsCol: String,
      prefix: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDelta(
        batch.select(col(user).as("user_id"),
          to_date(col(tsCol)).as("day")).distinct(),
        batchId, prefix)
    }

  /** DAU/WAU over everything [[activeDaysIngest]] has landed. */
  def dauWauMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String, windowDays: Int = 7): DataFrame =
    dauWau(spark.table(s"${prefix}_deltas")
      .select(col("user_id"), col("day")).distinct(),
      windowDays = windowDays)

  /** Classical seasonal decomposition (STL-lite / "decompose"):
    * y = trend + seasonal + residual over an already-bucketed series.
    *
    * trend is the centered (2·halfWindow+1)-point moving average —
    * defined only where the window is FULL (edge buckets emit no row;
    * a partial-window mean would mix regimes and, worse, differ by
    * engine on frame clamping). seasonal is the per-period-key mean of
    * the detrended series (the additive-decomposition estimator);
    * residual is what's left — the anomaly signal q173's per-cell
    * z-score approximates without removing trend first.
    *
    * Exactness: `y6` must sit on the 1e-6 decimal grid. The window SUM
    * stays decimal (order-free), and the trend lands EXACTLY on the
    * 1e-9 grid because points must divide 1000 (25 points → ×40):
    * trend9 = S_int·1000/points is an integer both engines compute
    * from the same exact sum. Detrended values are therefore 1e-9-grid
    * integers whose per-period sums are exact; seasonal and residual
    * are single IEEE divisions/subtractions of identical integers —
    * bit-portable with no float accumulation anywhere.
    *
    * Scale: the heavy pass is the upstream aggregation INTO buckets
    * (distributed, partial-aggregated); this function's global ordered
    * window runs over the BUCKETED series, whose size is bounded by
    * time-range/granularity (720 points for a month of hours), never
    * by the corpus — the q173 spine discipline. The period table
    * (≤ period rows) broadcasts back.
    *
    * Input: (bucket: any orderable, y6: DECIMAL(*,6), periodKey named
    * by `period`). Output: (bucket, period, y, trend, seasonal, resid).
    */
  /** Streaming maintenance for [[seasonalDecompose]]'s input series:
    * per-batch HOURLY partial sums land as idempotent delta partitions
    * (the [[Sketches.writeDelta]] contract — replay overwrites, stale
    * batches skip). Decimal sums are additive and order-free, so
    * [[seasonalDecomposeMerged]] reads EXACTLY the one-shot batch
    * decomposition at any point in the stream — the standing
    * trend/seasonal/anomaly monitor without re-scanning history. */
  def bucketSumsIngest(tsCol: String, valueCol: String,
      prefix: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      Sketches.writeDelta(
        batch.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
          .groupBy(date_trunc("hour", col(tsCol)).as("bucket"))
          .agg(sum(col(valueCol)
            .cast(org.apache.spark.sql.types.DecimalType(27, 6))).as("y6")),
        batchId, prefix)
    }

  /** [[seasonalDecompose]] over everything [[bucketSumsIngest]] landed
    * (hour-of-day periodicity). */
  def seasonalDecomposeMerged(spark: org.apache.spark.sql.SparkSession,
      prefix: String, halfWindow: Int = 12): DataFrame = {
    val series = spark.table(s"${prefix}_deltas")
      .groupBy(col("bucket"))
      .agg(sum(col("y6"))
        .cast(org.apache.spark.sql.types.DecimalType(27, 6)).as("y6"))
      .withColumn("hr", hour(col("bucket")).cast("long"))
    seasonalDecompose(series, "bucket", "y6", "hr", halfWindow)
  }

  def seasonalDecompose(series: DataFrame, bucket: String, y6: String,
      period: String, halfWindow: Int = 12): DataFrame = {
    val points = 2 * halfWindow + 1
    require(1000 % points == 0,
      s"seasonalDecompose: window size $points must divide 1000 so the " +
        "trend lands exactly on the 1e-9 grid (use halfWindow 2, 4, 12, 62, ...)")
    val mul = 1000 / points
    val win = Window.orderBy(col(bucket))
      .rowsBetween(-halfWindow, halfWindow)
    val full = series
      .withColumn("y9", (col(y6) * lit(1000000)).cast("long") * lit(1000L))
      .withColumn("cnt", count(lit(1)).over(win))
      .withColumn("trend9",
        (sum(col(y6)).over(win) * lit(1000000)).cast("long") * lit(mul.toLong))
      .filter(col("cnt") === points)
      .withColumn("det9", col("y9") - col("trend9"))
    val seasonal = full.groupBy(col(period))
      .agg(((sum(col("det9"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
        .cast("double") / count(lit(1)).cast("double")) / lit(1e9))
        .as("seasonal"))
    full.join(broadcast(seasonal), Seq(period))
      .select(col(bucket), col(period),
        col(y6).cast("double").as("y"),
        (col("trend9").cast("double") / lit(1e9)).as("trend"),
        col("seasonal"),
        (col(y6).cast("double") - col("trend9").cast("double") / lit(1e9)
          - col("seasonal")).as("resid"))
  }

  /** Two-group log-rank test — the significance layer over
    * [[kaplanMeier]]: "do group A and group B convert on DIFFERENT
    * survival curves, or is the gap chance?" (the A/B readout when the
    * outcome is time-to-event with censoring, where a naive mean or
    * z-test is biased by the censoring). Same cohort semantics as KM
    * (entry at first `isStart`, event at first subsequent `isEvent`,
    * right-censored at last activity) with a 0/1 `group` column that
    * must be constant per user (an assignment hash, a cohort flag).
    *
    * At each distinct event duration t the 2×2 (group × event) table
    * contributes observed deaths d_a, hypergeometric expectation
    * e_a = n_a·d/n and variance v = n_a·n_b·d·(n−d)/(n²·(n−1)); the
    * statistic (O_a−E_a)²/V is chi-square(1) under the null.
    *
    * Scale + portability: the corpus collapses to the bounded
    * (duration × group) spine in ONE aggregation; risk sets are
    * cumulative windows over that spine; e and v terms are IEEE
    * expressions of exact integers snapped to the 1e-12 grid and
    * summed as DECIMALs, so the statistic hash-proves cross-engine.
    * Output: one row (n_users_a, n_users_b, obs_a, exp_a, obs_b,
    * exp_b, chi2, significant at α=0.05 / crit 3.841459). */
  def logRank(events: DataFrame, user: String, epCol: String,
      isStart: Column, isEvent: Column, group: Column,
      bucketSec: Long = 86400): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perUser = events.groupBy(col(user)).agg(
      min(when(isStart, col(epCol))).as("t0"),
      max(col(epCol)).as("t_last"),
      min(when(isEvent, col(epCol))).as("te_any"),
      min(group).as("g"))
    val u = perUser.filter(col("t0").isNotNull)
      .withColumn("te", when(col("te_any") >= col("t0"), col("te_any")))
      .withColumn("observed", col("te").isNotNull)
      .withColumn("dur",
        floor((coalesce(col("te"), col("t_last")) - col("t0")) /
          lit(bucketSec.toDouble)).cast("long"))
    // the bounded (duration × group) spine feeds THREE arms (totals,
    // risk windows, the final sums) — materialize it once so the
    // corpus is scanned exactly once however the consumers multiply
    // (study-length rows, trivial at any corpus size)
    val byDur = u.groupBy(col("dur")).agg(
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("c_a"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("c_b"),
      sum(when(col("observed") && col("g") === 0, 1L).otherwise(0L)).as("d_a"),
      sum(when(col("observed") && col("g") === 1, 1L).otherwise(0L)).as("d_b"))
      .localCheckpoint()
    val total = byDur.groupBy().agg(
      sum(col("c_a")).as("tot_a"), sum(col("c_b")).as("tot_b"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def d(c: Column) = c.cast("double")
    def grid12(c: Column) = round(c, 12).cast(DecimalType(28, 12))
    val risk = byDur.crossJoin(broadcast(total))
      .withColumn("n_a",
        col("tot_a") - coalesce(sum(col("c_a")).over(wPrev), lit(0L)))
      .withColumn("n_b",
        col("tot_b") - coalesce(sum(col("c_b")).over(wPrev), lit(0L)))
      .withColumn("dd", col("d_a") + col("d_b"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .filter(col("dd") > 0)
      // e/v terms: IEEE expressions of exact integers, 1e-12-snapped.
      // the n_a·n_b·d·(n−d) product is computed in DOUBLE (it can pass
      // 2^63 near 1e9 users — the ~1e-16 relative rounding is far
      // below the 1e-12 grid the term lands on)
      .withColumn("e_a", grid12(d(col("n_a")) * d(col("dd")) / d(col("nn"))))
      .withColumn("v", when(col("nn") > 1, grid12(
        d(col("n_a")) * d(col("n_b")) * d(col("dd")) *
          d(col("nn") - col("dd")) /
          (d(col("nn")) * d(col("nn")) * d(col("nn") - lit(1))))))
    risk.agg(
        max(col("tot_a")).as("n_users_a"),
        max(col("tot_b")).as("n_users_b"),
        sum(col("d_a")).as("obs_a"),
        sum(col("e_a")).cast("double").as("exp_a"),
        sum(col("d_b")).as("obs_b"),
        sum(col("v")).cast("double").as("_var"))
      .withColumn("exp_b",
        round(d(col("obs_a") + col("obs_b")) - col("exp_a"), 6))
      .withColumn("chi2", round(
        (d(col("obs_a")) - col("exp_a")) * (d(col("obs_a")) - col("exp_a"))
          / col("_var"), 6))
      .select(col("n_users_a"), col("n_users_b"),
        col("obs_a"), round(col("exp_a"), 6).as("exp_a"),
        col("obs_b"), col("exp_b"), col("chi2"),
        (col("chi2") > lit(3.841459)).as("significant"))
  }

  /** K-step Markov state-distribution forecast over the bounded
    * event-type transition matrix — the "where do user journeys
    * settle" readout on top of the q146 transition matrix: from a
    * uniform start, apply π ← πP `iters` times. For an ergodic chain
    * ~16 steps is visually stationary; the output is DEFINED as the
    * exact K-step iterate (deterministic whether or not the chain has
    * mixed), so both engines reproduce it bit-for-bit.
    *
    * Scale: one user-partitioned lead() pass collapses the corpus to
    * the |types|² transition grid (pinned by `Route.bySize` —
    * iteration never re-reads the corpus); each step is a join +
    * aggregate over that bounded grid with every addend π·p snapped to
    * the 1e-12 grid and summed as exact DECIMALs (order-independent —
    * the matvec sum is the one float accumulation in the loop).
    * Requires every observed state to have at least one outgoing
    * transition (true whenever the chain is observed mid-stream; states
    * without outgoing rows would silently leak mass). Output:
    * (state, pi) ascending by state. */
  def markovStationary(events: DataFrame, user: String, typeCol: String,
      tsCol: String, idCol: String, iters: Int = 16): DataFrame = {
    require(iters >= 1 && iters <= 64, "markovStationary: 1 <= iters <= 64")
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(user)).orderBy(col(tsCol), col(idCol))
    val gridBase = events
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col(typeCol).as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    // DRIVER-LOCAL fast path (the kMeans q61 precedent): the grid is
    // |types|²-bounded by contract, so below 2^12 cells the K
    // distributed rounds are pure stage-scheduling overhead (measured
    // ~100 ms/round on an idle local[32] for a 25-cell grid). The
    // loop replicates the distributed arithmetic BIT-FOR-BIT: the
    // same IEEE π·p products, the same HALF_UP round to the 1e-12
    // grid (java BigDecimal.valueOf == Spark's Round on doubles —
    // RoundChk-verified), the same exact-decimal sums cast to double.
    Route.bySize(gridBase, 1L << 12) { grid =>
      val cells = grid.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      import java.math.{BigDecimal => JBD, RoundingMode}
      val srcs = cells.map(_._1).distinct
      var dist: Map[String, Double] =
        srcs.map(_ -> 1.0 / srcs.length.toDouble).toMap
      (1 to iters).foreach { _ =>
        val acc = scala.collection.mutable.Map.empty[String, JBD]
        cells.foreach { case (src, dst, p) =>
          dist.get(src).foreach { pi =>
            val term = JBD.valueOf(pi * p).setScale(12, RoundingMode.HALF_UP)
            acc(dst) = acc.getOrElse(dst, JBD.ZERO).add(term)
          }
        }
        dist = acc.map { case (k, v) => k -> v.doubleValue }.toMap
      }
      val spark = events.sparkSession
      spark.createDataFrame(dist.toSeq.sortBy(_._1))
        .toDF("state", "pi")
        .select(col("state"), round(col("pi"), 6).as("pi"))
        .orderBy(col("state"))
    } { grid =>
      val nStates = grid.select(col("src")).distinct()
        .agg(count(lit(1)).as("k"))
      var dist = grid.select(col("src").as("state")).distinct()
        .crossJoin(broadcast(nStates))
        .select(col("state"), (lit(1.0) / col("k").cast("double")).as("pi"))
      (1 to iters).foreach { _ =>
        dist = dist.join(grid, col("state") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(round(col("pi") * col("p"), 12).cast(DecimalType(28, 12)))
            .cast("double").as("pi"))
          .select(col("dst").as("state"), col("pi"))
      }
      dist.select(col("state"), round(col("pi"), 6).as("pi"))
        .orderBy(col("state"))
    }
  }

  /** Absorption probabilities of the event-type Markov chain — the
    * "will this journey CONVERT or ABANDON from here" readout, and the
    * computational core of Markov (removal-effect) attribution: with
    * `convert` and `abandon` redefined as absorbing states, report for
    * each transient state the probability of reaching `convert`
    * first. Computed as `iters` rounds of the fixed-point iteration
    * a ← P(→convert) + P(transient)·a from a = 0 — monotonically
    * convergent for any substochastic P, and the output is DEFINED as
    * the exact `iters`-step iterate (deterministic on both engines).
    *
    * Scale: the [[markovStationary]] discipline — one lead() pass to
    * the |types|² grid (pinned by `Route.bySize`), every round a join +
    * aggregate over the transient sub-grid with each p·a addend
    * snapped to the 1e-12 grid and summed as exact DECIMALs. Requires
    * every transient state to have outgoing transitions. Output:
    * (state, p_convert) over transient states, ascending. */
  def markovAbsorption(events: DataFrame, user: String, typeCol: String,
      tsCol: String, idCol: String, convert: String, abandon: String,
      iters: Int = 24): DataFrame = {
    require(iters >= 1 && iters <= 64, "markovAbsorption: 1 <= iters <= 64")
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(user)).orderBy(col(tsCol), col(idCol))
    val gridBase = events
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .filter(col(typeCol) =!= convert && col(typeCol) =!= abandon)
      .groupBy(col(typeCol).as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    // DRIVER-LOCAL fast path (the q281 recipe — see markovStationary):
    // the grid's (src, dst) rows are DISTINCT, so each src has at most
    // one direct-to-convert cell (no float-sum ordering to replicate),
    // and the fixed-point rounds run in driver scala with the exact
    // same IEEE products, HALF_UP 1e-12 rounds, and decimal sums.
    Route.bySize(gridBase, 1L << 12) { grid =>
      val cells = grid.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      import java.math.{BigDecimal => JBD, RoundingMode}
      val direct = cells.filter(_._2 == convert)
        .map(c => c._1 -> c._3).toMap
      val tr0 = cells.filter(c => c._2 != convert && c._2 != abandon)
      val srcs = cells.map(_._1).distinct
      var a: Map[String, Double] = srcs.map(_ -> 0.0).toMap
      (1 to iters).foreach { _ =>
        val acc = scala.collection.mutable.Map.empty[String, JBD]
        tr0.foreach { case (src, dst, p) =>
          a.get(dst).foreach { av =>
            val term = JBD.valueOf(p * av).setScale(12, RoundingMode.HALF_UP)
            acc(src) = acc.getOrElse(src, JBD.ZERO).add(term)
          }
        }
        a = srcs.map { s =>
          s -> (direct.getOrElse(s, 0.0) +
            acc.get(s).map(_.doubleValue).getOrElse(0.0))
        }.toMap
      }
      val spark = events.sparkSession
      spark.createDataFrame(a.toSeq.sortBy(_._1))
        .toDF("state", "a")
        .select(col("state"), round(col("a"), 6).as("p_convert"))
        .orderBy(col("state"))
    } { grid =>
      val tb = grid.groupBy(col("src"))
        .agg(coalesce(sum(when(col("dst") === convert, col("p"))), lit(0.0))
          .as("direct"))
        .localCheckpoint()
      val tr = grid
        .filter(col("dst") =!= convert && col("dst") =!= abandon)
        .localCheckpoint()
      var a = tb.select(col("src").as("state"), lit(0.0).as("a"))
      (1 to iters).foreach { _ =>
        val contrib = tr.join(a, col("dst") === col("state"))
          .groupBy(col("src"))
          .agg(sum(round(col("p") * col("a"), 12).cast(DecimalType(28, 12)))
            .cast("double").as("acc"))
        // the iterate feeds the next round ONCE, so the plan grows
        // linearly in iters (no checkpoint needed — the q281 precedent)
        a = tb.join(contrib, Seq("src"), "left")
          .select(col("src").as("state"),
            (col("direct") + coalesce(col("acc"), lit(0.0))).as("a"))
      }
      a.select(col("state"), round(col("a"), 6).as("p_convert"))
        .orderBy(col("state"))
    }
  }

  /** Expected steps to absorption of the journey chain —
    * [[markovAbsorption]]'s companion readout ("HOW LONG until this
    * journey resolves, either way"): with the same absorbing
    * redefinition, iterate the monotone fixed point
    * n ← 1 + P(transient)·n from n = 0 — the fundamental-matrix
    * row sums, computed without materializing (I−Q)⁻¹. Same grid
    * discipline as q281/q287; output DEFINED as the exact
    * `iters`-step iterate. Output: (state, exp_steps) ascending. */
  def markovTimeToAbsorb(events: DataFrame, user: String, typeCol: String,
      tsCol: String, idCol: String, absorbing: Seq[String],
      iters: Int = 24): DataFrame = {
    require(iters >= 1 && iters <= 64, "markovTimeToAbsorb: 1 <= iters <= 64")
    require(absorbing.nonEmpty, "markovTimeToAbsorb: absorbing states required")
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(user)).orderBy(col(tsCol), col(idCol))
    val gridBase = events
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .filter(!col(typeCol).isin(absorbing: _*))
      .groupBy(col(typeCol).as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    // DRIVER-LOCAL fast path — see markovAbsorption; direct term is
    // the constant 1.0 (one step is always taken)
    Route.bySize(gridBase, 1L << 12) { grid =>
      val cells = grid.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      import java.math.{BigDecimal => JBD, RoundingMode}
      val tr0 = cells.filter(c => !absorbing.contains(c._2))
      val srcs = cells.map(_._1).distinct
      var a: Map[String, Double] = srcs.map(_ -> 0.0).toMap
      (1 to iters).foreach { _ =>
        val acc = scala.collection.mutable.Map.empty[String, JBD]
        tr0.foreach { case (src, dst, p) =>
          a.get(dst).foreach { av =>
            val term = JBD.valueOf(p * av).setScale(12, RoundingMode.HALF_UP)
            acc(src) = acc.getOrElse(src, JBD.ZERO).add(term)
          }
        }
        a = srcs.map { s =>
          s -> (1.0 + acc.get(s).map(_.doubleValue).getOrElse(0.0))
        }.toMap
      }
      val spark = events.sparkSession
      spark.createDataFrame(a.toSeq.sortBy(_._1))
        .toDF("state", "a")
        .select(col("state"), round(col("a"), 6).as("exp_steps"))
        .orderBy(col("state"))
    } { grid =>
      val tb = grid.select(col("src")).distinct().localCheckpoint()
      val tr = grid.filter(!col("dst").isin(absorbing: _*)).localCheckpoint()
      var a = tb.select(col("src").as("state"), lit(0.0).as("a"))
      (1 to iters).foreach { _ =>
        val contrib = tr.join(a, col("dst") === col("state"))
          .groupBy(col("src"))
          .agg(sum(round(col("p") * col("a"), 12).cast(DecimalType(28, 12)))
            .cast("double").as("acc"))
        a = tb.join(contrib, Seq("src"), "left")
          .select(col("src").as("state"),
            (lit(1.0) + coalesce(col("acc"), lit(0.0))).as("a"))
      }
      a.select(col("state"), round(col("a"), 6).as("exp_steps"))
        .orderBy(col("state"))
    }
  }

  /** Next-event prediction eval of the first-order Markov model —
    * in-engine train/test for the q146 transition matrix: train
    * transitions on the users where `isTrain` holds, take each
    * state's argmax successor (ties to the lexicographically first —
    * deterministic on both engines), then score top-1 accuracy on the
    * held-out users' consecutive pairs. The baseline every sequence
    * model must beat, measured with the same split discipline as the
    * q54/q104 classifiers (user-level split — no user leaks between
    * train and test).
    *
    * Scale: one lead() pass builds ALL pairs; the model is the
    * |types|²-bounded train grid reduced to |types| argmax rows
    * (broadcast); scoring is a broadcast equi-join + counting
    * aggregate. Accuracy is a pure integer ratio (unrounded — the
    * bit-portable class). Output: (src, predicted, n_pairs,
    * n_correct, accuracy) over test-observed sources, ascending;
    * sources unseen in training carry null predicted and 0 accuracy. */
  def nextEventEval(events: DataFrame, user: String, typeCol: String,
      tsCol: String, idCol: String, isTrain: Column): DataFrame = {
    val w = Window.partitionBy(col(user)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("_train", isTrain)
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("_train"), col(typeCol).as("src"), col("dst"))
      .localCheckpoint()
    val wArg = Window.partitionBy(col("src"))
      .orderBy(col("n").desc, col("dst"))
    val model = pairs.filter(col("_train"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("src").as("m_src"), col("dst").as("predicted"))
    pairs.filter(!col("_train"))
      .join(broadcast(model), col("src") === col("m_src"), "left")
      .groupBy(col("src"))
      .agg(max(col("predicted")).as("predicted"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("dst") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_pairs").cast("double"))
      .orderBy(col("src"))
  }

  /** Inter-arrival burstiness per event type — the traffic-shape
    * diagnostic ("are clicks Poisson or do they storm?") that sizes
    * stream buffers and anomaly thresholds: per-user consecutive-gap
    * series per type, then the Goh–Barabási burstiness
    * B = (σ−μ)/(σ+μ) ∈ (−1, 1) (−1 periodic, 0 Poisson, →1 bursty)
    * and the coefficient of variation σ/μ. Gaps are integer seconds,
    * so Σg and Σg² accumulate exactly as DECIMALs and σ/B are IEEE
    * expressions of exact integers — hash-proves with no grid. ONE
    * per-(user, type) ordered window builds the gaps; the aggregate
    * is per-type. Degenerate types (< 2 gaps or zero mean) report
    * null B/CV. Output: (event_type, n_gaps, mean_gap, sd_gap, cv,
    * burstiness) ascending. */
  def burstiness(events: DataFrame, user: String, typeCol: String,
      epCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    def d(c: Column) = c.cast("double")
    val w = Window.partitionBy(col(user), col(typeCol))
      .orderBy(col(epCol), col(idCol))
    val gaps = events
      .withColumn("nxt", lead(col(epCol), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col(typeCol).as("event_type"),
        (col("nxt") - col(epCol)).cast("long").as("g"))
    val mom = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(dec(col("g"))).as("sg"),
        sum(dec(col("g")) * dec(col("g"))).as("sgg"))
    val m = d(col("sg")) / d(col("n_gaps"))
    val variance = (d(col("sgg")) - d(col("sg")) * d(col("sg")) /
      d(col("n_gaps"))) / (d(col("n_gaps")) - 1)
    val s = sqrt(variance)
    mom.select(col("event_type"), col("n_gaps"),
        round(m, 6).as("mean_gap"),
        when(col("n_gaps") > 1, round(s, 6)).as("sd_gap"),
        when(col("n_gaps") > 1 && m =!= 0.0, round(s / m, 6)).as("cv"),
        when(col("n_gaps") > 1 && (s + m) =!= 0.0,
          round((s - m) / (s + m), 6)).as("burstiness"))
      .orderBy(col("event_type"))
  }
}
