package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Size routing for the operators with a driver fast path: the input
  * is evaluated ONCE, whichever side runs. */
object Route {

  /** Pins `df` serialized on disk and counts the pin. At or below
    * `limit` rows the pin goes to `driver`, which must collect it
    * eagerly; it is released once that branch returns. Above, it goes
    * to `distributed`, which keeps reading it. DISK_ONLY, not a
    * deserialized localCheckpoint: a 100×-scale edge set held on the
    * heap starved the distributed loops' aggregates (OOM). */
  def bySize[T](df: DataFrame, limit: Long)(driver: DataFrame => T)(
      distributed: DataFrame => T): T = {
    val pin = df.persist(StorageLevel.DISK_ONLY)
    if (pin.count() <= limit) try driver(pin) finally pin.unpersist()
    else distributed(pin)
  }
}
