package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The package-private Spark calls behind graft's measured checkpoint
  * statistics (`graft.ops.Checkpoints`). */
object GraftSql {
  /** `df`, whose plan is `lr`, re-wrapped with `stats` as its estimate. */
  def withStats(df: DataFrame, lr: LogicalRDD, stats: Statistics): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, lr.copy()(s, Some(stats), Some(lr.constraints)))
  }

  /** Memory + disk bytes of RDD `rddId`'s blocks, as the block manager
    * master records them (it hears of a block before the storing task
    * ends, where `getRDDStorageInfo`'s listener-fed store may lag). */
  def storedBytes(rddId: Int): Option[BigInt] = {
    val sizes = SparkEnv.get.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(`rddId`, _), st) => BigInt(st.memSize + st.diskSize)
      })
    if (sizes.isEmpty) None else Some(sizes.sum)
  }
}
