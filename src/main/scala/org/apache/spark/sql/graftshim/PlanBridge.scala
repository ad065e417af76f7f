package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/**
 * Bridge into the `private[sql]` pieces that `graft.plans.Checkpoints`
 * and `graft.sources.Ingest` need: the session's own SQL conf, and
 * re-wrapping a checkpoint leaf. Same rationale as [[CatalystBridge]].
 */
object PlanBridge {

  /** Run `f` with `spark` as the thread's active session, as every
    * Dataset action does (so code reading `SQLConf.get` sees this
    * session's settings), and hand it that session's conf. */
  def withActiveConf[T](spark: SparkSession)(f: SQLConf => T): T = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive(f(s.sessionState.conf))
  }

  /** `cp`, a frame `Dataset.checkpoint` / `localCheckpoint` returned,
    * with its checkpoint leaf's size estimate capped at `maxBytes`;
    * rows, lineage and constraints are the leaf's own. */
  def withLeafSizeAtMost(cp: DataFrame, maxBytes: BigInt): DataFrame = {
    val lr = cp.asInstanceOf[classic.Dataset[_]].logicalPlan match {
      case lr: LogicalRDD => lr
      case other => throw new IllegalArgumentException(
        s"not a checkpoint frame: ${other.nodeName}")
    }
    if (lr.stats.sizeInBytes <= maxBytes) cp
    else {
      val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
      val resized = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
        lr.outputOrdering, lr.isStreaming, lr.stream)(
        session, Some(Statistics(sizeInBytes = maxBytes)), Some(lr.constraints))
      classic.Dataset.ofRows(session, resized)
    }
  }
}
