package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.storage.BlockId

/** Test access to the block manager's view of an RDD's blocks. */
object Blocks {
  /** The blocks of RDD `rddId` that any block manager still holds. */
  def ofRdd(sc: SparkContext, rddId: Int): Seq[BlockId] =
    sc.env.blockManager.master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true)
}
