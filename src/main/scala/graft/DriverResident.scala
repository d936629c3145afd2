package graft

import org.apache.spark.SparkContext

/** Point serving's driver-memory gate, shared by `HybridSearchEngine` and the
  * `Hnsw` registry of restored graphs.
  *
  * Below [[budget]] bytes of in-memory state (an engine's serving rows, or one
  * index's restored graphs), that state lives on the driver and a point query
  * runs no Spark job beyond reading the caller's frames. Above it, the state
  * stays in Spark (a cached relation, a MEMORY_ONLY RDD of graphs), the only
  * form that serves a corpus or an index too large for the driver. The budget
  * is an eighth of the driver's max heap: the state is driver memory in every
  * deploy mode, so local mode earns no larger share.
  *
  * Jobs the engine and the registry run carry a job tag
  * `entry:phase:operator` (e.g. `acornSearch:exec:query_frame`), which keeps
  * the caller's job group in place. */
private[graft] object DriverResident {
  @volatile private var forced: Option[Long] = None

  /** The byte budget of one engine's serving rows or one index's graphs. */
  def budget: Long = forced.getOrElse(Runtime.getRuntime.maxMemory / 8)

  /** Run `body` with the budget set to `bytes`, so specs can put state on
    * either side of the gate. State placed during `body` stays where it went. */
  private[graft] def withBudget[T](bytes: Long)(body: => T): T = {
    val old = forced
    forced = Some(bytes)
    try body finally forced = old
  }

  /** Run `body` with `tag` on the jobs this thread submits. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }
}
