package graft.dims

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (slowly-changing-dimension type 2) derivation — the heart of
  * the reference's dimension loads (SQL:915-1326).
  *
  * The reference maintains validity intervals with UPDATE-in-place
  * (close the current row, insert the new version — SQL:927-970).
  * Spark DataFrames are immutable, so the same semantics are derived
  * as a pure windowed computation over the change history (SURVEY §2.E,
  * §7.7.2): `active_to` = next version's `active_from` (half-open
  * `[from, to)` intervals, SURVEY §7.7.1), `is_current` = "is last
  * version". Being pure, the derivation is deterministic, idempotent,
  * and oracle-checkable; at scale it is one shuffle on the natural key
  * (the window partition), with no driver-side state.
  */
object Scd2 {

  /** Open-ended validity sentinel (reference SQL:90 `9999-12-31`).
    * NTZ (naive) like every warehouse timestamp — session TZ is UTC. */
  val MaxTs: LocalDateTime = LocalDateTime.of(9999, 12, 31, 0, 0, 0)
  /** Beginning-of-time sentinel (reference SQL:629 `1900-01-01`). */
  val MinTs: LocalDateTime = LocalDateTime.of(1900, 1, 1, 0, 0, 0)

  /** Derive SCD2 validity intervals from a change history.
    *
    * @param history  one row per observed version: natural key column,
    *                 attribute columns, and a change timestamp
    * @param nk       natural key column name
    * @param changeTs change timestamp column name (becomes active_from)
    * @param tiebreak extra ordering columns for simultaneous changes
    */
  def deriveVersions(history: DataFrame, nk: String, changeTs: String,
                     tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(changeTs) +: tiebreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(nk)).orderBy(order: _*)
    val nextFrom = lead(col(changeTs), 1).over(w)
    history
      .withColumn("active_from", col(changeTs))
      .withColumn("active_to", coalesce(nextFrom, lit(MaxTs)))
      .withColumn("is_current", when(nextFrom.isNull, 1L).otherwise(0L))
  }

  /** Monthly SCD2 churn mart over a [[deriveVersions]]-shaped table:
    * versions OPENED per month (by active_from) full-outer-joined
    * with versions CLOSED per month (by active_to of non-current
    * rows) — the dimension-volatility dashboard behind "why did the
    * customer dim grow 3% this month"; the `scd2_churn` declared
    * query. Output: (month_idx, n_opened, n_closed)
    * with month_idx = year·12 + month − 1. */
  def churnByMonth(versions: DataFrame): DataFrame = {
    val mo = (c: org.apache.spark.sql.Column) =>
      (year(to_date(c)) * 12 + month(to_date(c)) - 1).cast("long")
    val opened = versions
      .groupBy(mo(col("active_from")).as("month_idx"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = versions.filter(col("is_current") === 0)
      .groupBy(mo(col("active_to")).as("month_idx"))
      .agg(count(lit(1)).as("n_closed"))
    opened.join(closed, Seq("month_idx"), "full_outer")
      .select(col("month_idx"),
        coalesce(col("n_opened"), lit(0L)).cast("long").as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).cast("long").as("n_closed"))
      .orderBy("month_idx")
  }

  /** Drop history rows whose tracked attributes did not change vs the
    * previous version of the same key — the reference's "any attribute
    * differs" UPDATE predicate (SQL:938-942, `ISNULL`-wrapped `<>`),
    * re-expressed as a lag-compare so no-op source edits don't spawn
    * spurious versions. Null-scrubs with `coalesce(attr, '')` exactly
    * as the reference does. */
  def dropNoOpChanges(history: DataFrame, nk: String, changeTs: String,
                      tracked: Seq[String], tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(changeTs) +: tiebreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(nk)).orderBy(order: _*)
    val changed = tracked.map { a =>
      val scrub = coalesce(col(a).cast("string"), lit(""))
      val prev = lag(scrub, 1).over(w)
      prev.isNull || (scrub =!= prev)
    }.reduce(_ || _)
    history.withColumn("__changed", changed).filter(col("__changed")).drop("__changed")
  }

  /** Deterministic surrogate keys: dense row_number over a total order
    * (reference IDENTITY, SQL:317/394/463; SURVEY §2.E1). Never
    * `monotonically_increasing_id` — nondeterministic across runs.
    * A global row_number is a single-partition sort — fine for
    * dimension tables (≤ millions of rows; facts store the dims'
    * surrogates and never need their own). For incremental appends
    * pass `offset` = current max surrogate. */
  def withSurrogate(dim: DataFrame, skName: String, order: Seq[String],
                    offset: Long = 0L): DataFrame = {
    val w = Window.orderBy(order.map(col(_).asc): _*)
    dim.withColumn(skName, row_number().over(w).cast("long") + lit(offset))
  }

  /** The reference's Unknown member (nk = -1, SQL:622-631): appended to
    * every dimension so fact loads can fall back instead of dropping
    * rows (SURVEY §2.J41). `values` must match `dim`'s columns. */
  def withUnknownRow(dim: DataFrame, values: Map[String, Column]): DataFrame = {
    val one = dim.sparkSession.range(1)
    val unknown = one.select(dim.columns.toSeq.map(c =>
      values.getOrElse(c, lit(null)).cast(dim.schema(c).dataType).as(c)): _*)
    dim.unionByName(unknown)
  }

  /** Delete detection (reference SQL:974-988): current dim rows whose
    * natural key no longer exists in the source snapshot. Anti join —
    * shuffles only the key columns. */
  def deletedKeys(currentDim: DataFrame, snapshotKeys: DataFrame,
                  nk: String): DataFrame =
    currentDim.join(snapshotKeys, Seq(nk), "left_anti")

  /** New-rows detection (reference SQL:957-969 NOT EXISTS guard):
    * source rows whose version identity is not already in the dim —
    * the re-runnability core. */
  def newVersions(source: DataFrame, existing: DataFrame,
                  keys: Seq[String]): DataFrame =
    source.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** As-of (temporal interval) join — the fact load's dim lookup
    * (reference SQL:1437-1445, SURVEY §2.C3/C4). Standardized on
    * half-open `[active_from, active_to)` (SURVEY §7.7.1) so exactly
    * one version matches per probe. Catalyst plans the equi part
    * (nk) as a hash/sort-merge join with the interval predicate as a
    * post-join filter; dims small enough to broadcast should be
    * wrapped in `broadcast()` by the caller. */
  def asOfJoin(probe: DataFrame, dim: DataFrame, probeKey: Column,
               dimKey: Column, probeTs: Column): DataFrame =
    probe.join(dim,
      probeKey === dimKey && probeTs >= dim("active_from") &&
        probeTs < dim("active_to"),
      "left")
}
