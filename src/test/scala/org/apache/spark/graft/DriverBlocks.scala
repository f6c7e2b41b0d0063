package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Spec access to driver internals that are `private[spark]`: the block
  * manager and a stage's shuffle. */
object DriverBlocks {

  /** Whether `stage` writes a shuffle (is a shuffle map stage). */
  def writesShuffle(stage: org.apache.spark.scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined

  /** Whether the driver still holds a block (value or piece) of
    * broadcast `id`. */
  def holdsBroadcast(id: Long): Boolean =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(b, _) => b == id
      case _ => false
    }.nonEmpty

  /** The ids of the broadcasts whose whole value the driver holds and
    * `value` accepts. */
  def broadcastsHolding(value: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.collect { case b: BroadcastBlockId
      if bm.memoryStore.getValues(b).flatMap(_.nextOption()).exists(value) => b.broadcastId
    }.toSet
  }

  /** Drop partition `split` of RDD `rddId` from this JVM's block store,
    * as a lost executor would; true if it was held. */
  def dropRddBlock(rddId: Int, split: Int): Boolean = {
    val id = RDDBlockId(rddId, split)
    val held = SparkEnv.get.blockManager.getStatus(id).nonEmpty
    SparkEnv.get.blockManager.removeBlock(id)
    held
  }
}
