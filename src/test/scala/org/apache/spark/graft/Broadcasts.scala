package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** `private[spark]`-access shim for specs that count a job's broadcasts. */
object Broadcasts {

  /** Wait until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The value the driver still holds for broadcast `id`, if any. */
  def heldValue(id: Long): Option[Any] = {
    val blocks = SparkEnv.get.blockManager
    val block = BroadcastBlockId(id)
    blocks.getLocalValues(block).map(r => try r.data.next() finally blocks.releaseLock(block))
  }
}
