package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

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
}
