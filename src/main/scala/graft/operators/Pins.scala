package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifetimes of `localCheckpoint` pins.
  *
  * The ContextCleaner reclaims a localCheckpoint's blocks only after a
  * driver GC notices the dropped reference, so a merge loop, a multi-round
  * ingest or a stream of probes would otherwise run against a block
  * manager full of dead snapshots. Operators free their pins here instead.
  *
  * A pin that an operator's RETURNED frame still reads (the frames are
  * lazy) cannot be freed before the call returns; it is parked under an
  * owner key naming the call and the store (`probe:<root>`,
  * `search:<root>`, `verify:<root>`, ...). LIFETIME CONTRACT: a frame
  * returned by a call that parks under an owner stays valid until the next
  * call with the same owner. Calls with other owners never touch it, so
  * concurrent callers on different roots (two streams' microbatches, two
  * roots' searches) are independent. `MemoRegistry.resetAll` frees every
  * parked pin. */
object Pins {
  private val parked =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFrame]]()

  /** Unpersist the blocks behind a localCheckpoint now. Blocking, so the
    * blocks are gone before the next job allocates (non-blocking frees
    * raced the following step's jobs and showed up as multi-second GC
    * variance). The "cannot be recomputed after unpersisting" WARN this
    * logs is the intended contract: a freed pin is never read again. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
    case _ => ()
  }

  /** Whether `df` is already an eager localCheckpoint: its blocks are
    * materialized, so pinning it again would only copy them in one more
    * job. */
  def isPinned(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.isCheckpointed
    case _ => false
  }

  /** Free whatever `owner` held and hold `dfs` in its place (none: just
    * free). */
  def park(owner: String, dfs: DataFrame*): Unit = {
    val prev = if (dfs.isEmpty) parked.remove(owner) else parked.put(owner, dfs)
    if (prev != null) prev.foreach(free)
  }

  graft.MemoRegistry.register(() => parked.keySet.forEach(k => park(k)))
}
