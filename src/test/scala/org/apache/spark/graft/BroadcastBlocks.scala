package org.apache.spark.graft

import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** The values of the broadcast variables whose blocks the SparkContext's
  * own BlockManager holds in memory. The block manager is private to Spark;
  * specs that pin a broadcast's lifetime need this one call. */
object BroadcastBlocks {
  def values(sc: SparkContext): Seq[Any] = {
    val bm = sc.env.blockManager
    // the whole value is one block per broadcast; its pieces are bytes
    bm.getMatchingBlockIds { case BroadcastBlockId(_, "") => true; case _ => false }
      .flatMap(id => Try(bm.memoryStore.getValues(id)).toOption.flatten.iterator.flatten)
  }
}
