package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Gives a local checkpoint its own size. `localCheckpoint` keeps the
  * origin plan's size estimate on its `LogicalRDD`, so a loop that joins
  * its checkpointed state with itself squares that estimate every round.
  * `sized` re-wraps the scan with the bytes its blocks occupy (memory plus
  * disk, as the block manager recorded them when the checkpoint job put
  * them). It asks the block manager master once and runs no Spark job.
  * `Dataset.ofRows` and the block manager are private to Spark, hence
  * this shim. `checkpointed` must come straight from `localCheckpoint`,
  * whose plan is the `LogicalRDD` over the checkpointed RDD. */
object CheckpointBridge {
  def sized(checkpointed: DataFrame): DataFrame = {
    val ds = checkpointed.asInstanceOf[Dataset[_]]
    val scan = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val bytes = SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks).collect {
        case (RDDBlockId(rdd, _), s) if rdd == scan.rdd.id => s.memSize + s.diskSize
      }.sum
    Dataset.ofRows(ds.sparkSession, scan.copy()(
      ds.sparkSession, Some(Statistics(sizeInBytes = bytes)), Some(scan.constraints)))
  }
}
