package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** A frame hash-clustered by some keys and materialised once, whose
  * plan tells Catalyst about that clustering, so aggregates and windows
  * on keys that include them plan with no exchange.
  *
  * Stock `localCheckpoint` keeps the clustering only when the plan runs
  * without AQE: an adaptive plan reports no output partitioning until it
  * has run, and the checkpoint reads it before. This re-reads it from the
  * final adaptive plan, which also keeps AQE's partition coalescing.
  *
  * The planner co-partitions a join only on a partitioning it could
  * itself create, which a coalesced one is not. So a frame that AQE
  * coalesced into a single partition reports `SinglePartition`: then
  * joins of frames built on it plan with no exchange, and so does any
  * aggregate, whatever it groups by. */
object Clustered {

  /** `df.repartition(keys)`, eagerly local-checkpointed. The checkpoint is
    * not a session cache entry: its blocks are dropped when the returned
    * frame (and everything built on it) is no longer reachable. */
  def localCheckpoint(df: DataFrame, keys: Column*): DataFrame = {
    val clustered = df.repartition(keys: _*).asInstanceOf[ClassicDataset[_]]
    val checkpointed = clustered.localCheckpoint(eager = true)
      .asInstanceOf[ClassicDataset[_]]
    val rdd = checkpointed.logicalPlan.asInstanceOf[LogicalRDD]
    val partitioning = clustered.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning
      case p => p.outputPartitioning
    }
    val reported = if (rdd.rdd.getNumPartitions == 1) SinglePartition else partitioning
    val session = checkpointed.sparkSession
    ClassicDataset.ofRows(session,
      LogicalRDD(rdd.output, rdd.rdd, reported, rdd.outputOrdering, rdd.isStreaming)(
        session, Some(rdd.computeStats()), Some(rdd.constraints)))
  }
}
