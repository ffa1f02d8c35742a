package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** What the block manager holds, for tests: Spark's own view, which lives
 *  behind `private[spark]`. */
object Blocks {
  /** Names of the blocks the driver's block manager master lists for RDD
   *  `rddId`, asking every executor's block manager. */
  def ofRdd(sc: SparkContext, rddId: Int): Seq[String] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true)
      .map(_.name).toSeq
}
