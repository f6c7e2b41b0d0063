package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Spec access to the driver's block manager, which is `private[spark]`. */
object DriverBlocks {

  /** Whether the driver still holds a block (value or piece) of
    * broadcast `id`. */
  def holdsBroadcast(id: Long): Boolean =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(b, _) => b == id
      case _ => false
    }.nonEmpty
}
