package graft.facts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checks.Checks
import graft.meta.{LoadTracker, LoadTransaction, RunLog, StagedWrite}
import graft.meta.LoadTransaction.Candidate
import graft.schema.Tables

/** Fact table load — reference `etl_load_factsales` (SQL:1339-1538),
  * the deepest pipeline in the script (SURVEY §3.2).
  *
  * Reference shape: delta from `src_sales` (OrderLines ⋈ Orders +
  * computed measures + watermark), temporal dim lookups with Unknown
  * fallback, UPDATE phase for corrections, INSERT phase for new keys.
  * Spark-first the UPDATE+INSERT pair becomes one pure recompute:
  * union(existing fact, fresh delta) → keep the latest edit per
  * natural key with a window (reference guard SQL:1402) → overwrite
  * via staged swap. Unknown-mapped rows re-resolve automatically
  * because the dim lookup reruns (reference SQL:1399-1401). The
  * transaction around that plan (watermark, gate, publish, tracker,
  * run log) is [[graft.meta.LoadTransaction]], shared with every
  * dimension load.
  *
  * Scale posture: the delta and existing fact shuffle once on
  * `sales_nk` (the window partition); dim lookups are broadcast
  * (dims are orders of magnitude smaller than facts). The watermark
  * is a driver literal so the source scan prunes on push-down.
  */
object FactLoader {

  /** Measures — reference B2 (SQL:498-499), decimal-pinned so Spark
    * and the DuckDB oracle agree bit-for-bit (SURVEY §7.7.4). */
  def withMeasures(df: DataFrame): DataFrame = df
    .withColumn("quantity", col("l_quantity").cast("decimal(12,2)"))
    .withColumn("value_gross", col("l_extendedprice").cast("decimal(14,2)"))
    .withColumn("value_discounted",
      (col("l_extendedprice").cast("decimal(14,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("decimal(18,4)"))
    .withColumn("value_posttax",
      (col("value_discounted") *
        (lit(1).cast("decimal(4,2)") + col("l_tax").cast("decimal(4,2)")))
        .cast("decimal(18,6)"))

  /** Composite natural key "orderkey-linenumber" (reference SQL:490). */
  def salesNk: Column =
    concat_ws("-", col("l_orderkey").cast("string"),
      col("l_linenumber").cast("string"))

  /** Keep the latest edit per natural key (reference SQL:1367-1404,
    * SURVEY §2.E3): one shuffle on the key. */
  def latestPerKey(df: DataFrame, key: Seq[String], ts: Column,
                   tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy((ts.desc +: tiebreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental fact load against a warehouse (used by Pipeline), one
    * [[graft.meta.LoadTransaction]]: it recovers, reads the watermark,
    * runs the delta stats, gates, publishes, advances and logs; this
    * plan resolves the dimension lookups and keeps the latest edit per
    * contested key. An existing fact with an empty delta is the no-op.
    *
    * The gate is the Stage-5 fact sweep's natural-key uniqueness
    * (`dup_fact_nk`, [[graft.checks.Checks.factSweep]]) over the
    * delta's keys.
    *
    * Run-log counts: rows_inserted = delta rows consumed,
    * rows_updated = existing fact rows with a strictly newer delta
    * edit (the reference's correction-UPDATE @@ROWCOUNT,
    * SQL:1405-1462), rows_deleted = 0 always — the no-fact-deletes
    * policy (I6). */
  def load(spark: SparkSession, lineitem: DataFrame, orders: DataFrame,
           dims: Map[String, (DataFrame, Column, Column)],
           factPath: String, tracker: LoadTracker, log: RunLog): Long = {
    val source = withMeasures(
      lineitem.join(orders, col("l_orderkey") === col("o_orderkey")))
      .withColumn("sales_nk", salesNk)
      .withColumn("last_edited", greatest(col("l_shipdate"), col("o_orderdate")))
    LoadTransaction.run(spark, "factsales", factPath, tracker, log, source,
        "last_edited", "sales_nk", Checks.factSweep(_, Nil)) { (delta, inserted) =>
      // dim surrogate lookups, Unknown (-1) fallback; dims broadcast
      val resolved = dims.foldLeft(delta) {
        case (df, (dimName, (dim, probeKey, dimKey))) =>
          df.join(broadcast(dim), probeKey === dimKey, "left")
            .withColumn(s"${dimName}_sk",
              coalesce(col(s"${dimName}_id"), lit(-1L)))
            .drop(dim.columns.toSeq: _*)
      }

      val projected = resolved.select(
        (Seq("sales_nk", "quantity", "value_gross", "value_discounted",
          "value_posttax", "last_edited") ++
          dims.keys.toSeq.sorted.map(d => s"${d}_sk")).map(col): _*)

      if (!StagedWrite.exists(spark, factPath))
        Some(Candidate(latestPerKey(projected, Seq("sales_nk"), col("last_edited")),
          None, 0L, 0L))
      // no-op rerun: leave the table alone (reference SQL:71-73 —
      // second run inserts 0 rows)
      else if (inserted == 0L) None
      else {
        // keep-latest is scoped to CONTESTED keys (those present in
        // the delta): untouched fact rows pass through without
        // re-shuffling — at 100 TB the correction window touches a
        // sliver of the fact, not all of it. Untouched ⋕ contested are
        // disjoint by construction, so the delta's keys are the gate's
        // whole scope.
        val f = Tables.read(spark, factPath)
        val deltaKeys = projected.select(col("sales_nk")).distinct()
        val untouched = f.join(deltaKeys, Seq("sales_nk"), "left_anti")
        val contested = f.join(deltaKeys, Seq("sales_nk"), "left_semi")
          .unionByName(projected)
        // rows_updated: stored rows the delta corrects (a strictly
        // newer edit for the same natural key) — the delta side of
        // the comparison is a pre-aggregated per-key max, so the
        // probe is existing-fact ⋈ broadcast(delta keys)
        val nUpdated = f.join(
            projected.groupBy(col("sales_nk"))
              .agg(max(col("last_edited")).as("__delta_ts")),
            Seq("sales_nk"))
          .filter(col("__delta_ts") > col("last_edited")).count()
        Some(Candidate(untouched.unionByName(
            latestPerKey(contested, Seq("sales_nk"), col("last_edited"))),
          Some(deltaKeys), nUpdated, 0L))
      }
    }
  }
}
