package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.storage.StorageLevel

/** Size routing for the operators with a driver fast path: the input
  * is evaluated ONCE, whichever side runs. Every driver fast path in
  * `graft.operators` goes through [[bySize]]; both of each guard's
  * branches are pinned equal by ParityBoundarySpec, so routing never
  * changes a result. */
object Route {

  /** Session conf: "true" forces every guard onto its distributed
    * branch, which is how the parity tests and the at-scale captures
    * (`BenchScale`) reach the plans the guards skip at fixture scale.
    * `Bench.session` sets it from SPARK_GRAFT_DRIVER_EDGE_LIMIT=0. */
  val ForceDistributedConf = "spark.graft.route.forceDistributed"

  /** Pins `df` serialized on disk in ONE job that also measures it: its
    * row count, or the sum of `weight` over its rows when given. At or
    * below a positive `limit` the pin goes to `driver`, which must
    * collect it eagerly; its blocks are dropped once that branch
    * returns. Above it, with a `limit` of 0 (the call site has no driver
    * branch for this input), or when [[ForceDistributedConf]] is set, it
    * goes to `distributed`, which keeps reading it and may [[release]]
    * it. DISK_ONLY, not a deserialized pin: a 100×-scale edge set held
    * on the heap starved the distributed loops' aggregates (OOM). */
  def bySize[T](df: DataFrame, limit: Long, weight: Option[Column] = None)(
      driver: DataFrame => T)(distributed: DataFrame => T): T = {
    val forced = df.sparkSession.conf.getOption(ForceDistributedConf)
      .exists(_.trim.toBoolean)
    val (pin, sizes) =
      GraftSqlBridge.localCheckpointCounted(df, StorageLevel.DISK_ONLY, weight)
    if (!forced && limit > 0 && sizes.sum <= limit)
      try driver(pin) finally release(pin)
    else distributed(pin)
  }

  /** Drops the blocks of a relation a branch no longer reads: a
    * [[bySize]] pin, or a relation the branch persisted itself. */
  def release(df: DataFrame): Unit = {
    GraftSqlBridge.releasePin(df)
    df.unpersist(false)
  }
}
