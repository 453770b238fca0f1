package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A local checkpoint that keeps the layout its rows were computed with.
  * Under AQE the checkpoint's `LogicalRDD` reports `UnknownPartitioning`,
  * because it reads the layout off the adaptive plan's root; the layout
  * is known only in the final plan the checkpoint job ran. This rebuilds
  * the `LogicalRDD` with that final plan's partitioning and ordering,
  * attributes remapped by position onto the checkpoint's output, so a
  * consumer keyed the same way plans no exchange and no sort over it.
  * Its size is the final plan's measured shuffle stage, not the
  * optimizer's estimate, so join planning (broadcast or not) sees the
  * rows that were actually pinned. */
object KeyedCheckpoint {
  /** `cp` must be the eager local checkpoint of `src`. */
  def withFinalLayout(src: DataFrame, cp: DataFrame): DataFrame = {
    val fin = src.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    val toRdd = AttributeMap(fin.output.zip(rdd.output))
    def remap[E <: Expression](e: E): E =
      e.transform { case a: Attribute => toRdd.getOrElse(a, a) }.asInstanceOf[E]
    def leaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => leaf(c.partitionings.head)
      case e: Expression => remap(e).asInstanceOf[Partitioning]
      case other => other
    }
    val stats = fin.collectFirst { case s: QueryStageExec => s.computeStats() }
      .flatten.getOrElse(rdd.computeStats())
    Dataset.ofRows(cp.sparkSession, LogicalRDD(rdd.output, rdd.rdd,
      leaf(fin.outputPartitioning), fin.outputOrdering.map(remap(_)),
      rdd.isStreaming, rdd.stream)(cp.sparkSession, Some(stats),
      Some(rdd.constraints)))
  }
}
