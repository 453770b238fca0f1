package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared core of the two-phase global rank/cumsum machinery
  * (SuffixArray.denseRank, Profiler.globalCumsum): attach to every
  * row a range-bucket id `__pid` and the running `value`-total
  * `__base` of all strictly-lower buckets, without a single-task
  * global sort. Callers add their local window (row_number / sum)
  * partitioned by `__pid` and offset it by `__base`.
  *
  * Range-repartition once, PIN the materialization ([[Pin.pin]]),
  * derive bases from the pinned rows. One linear write; the pin is
  * what makes the boundary draw shared between the bases job and the
  * consumer job (RangePartitioner's sample seed varies with the RDD
  * id, so UNPINNED re-evaluation could draw different boundaries —
  * the §25 corruption).
  */
object Rank {
  /** rows + `__pid` + `__base`. `order` must be ascending null-free
    * key EXPRESSIONS (not SortOrder). */
  def withPidAndBase(df: DataFrame, order: Seq[Column],
                     value: Column): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = Pin.pin(df.repartitionByRange(nPart, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val wBase = org.apache.spark.sql.expressions.Window
      .orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bases = ranged.groupBy(col("__pid"))
      .agg(sum(value).as("__n"))
      .withColumn("__base", coalesce(sum(col("__n")).over(wBase), lit(0L)))
      .select("__pid", "__base")
    ranged.join(broadcast(bases), "__pid")
  }
}
