package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Validation suite — reference Stage 5/X (SQL:1616-1839). The
  * reference's hard constraints (PK/FK/unique indexes, SQL:536-565)
  * are unenforceable on Parquet, so — exactly as its author frames at
  * SQL:1747-1750 — they become "soft refs with checks": each invariant
  * is a DataFrame that must come back empty (SURVEY §5).
  */
/** Thrown by [[Checks.prePublish]] when a candidate frame violates an
  * invariant; the failing check names ride along for the run log. */
final class PrePublishViolation(val failing: Seq[String])
  extends IllegalStateException(
    s"pre-publish validation failed: ${failing.mkString(", ")}")

object Checks {

  /** Duplicate detection (reference SQL:1642-1650 etc.):
    * GROUP BY key HAVING COUNT(*) > 1. */
  def duplicates(df: DataFrame, key: Seq[String]): DataFrame =
    df.groupBy(key.map(col): _*).count().filter(col("count") > 1)

  /** At most one current row per natural key (reference SQL:1658-1663). */
  def multipleCurrent(dim: DataFrame, nk: String): DataFrame =
    duplicates(dim.filter(col("is_current") === 1L), Seq(nk))

  /** No NULL validity bounds (reference SQL:1664-1667). */
  def nullValidity(dim: DataFrame): DataFrame =
    dim.filter(col("active_from").isNull || col("active_to").isNull)

  /** No overlapping SCD2 intervals per key (reference SQL:1668-1683
    * self theta-join). The windowed `lead` formulation detects the
    * same violations in ONE shuffle (sorted by start, an interval can
    * only overlap its successor when intervals are properly nested by
    * the SCD2 derivation — SURVEY §2.C9); pair enumeration over
    * arbitrary intervals is [[overlappingPairs]]. `tiebreak` pins the
    * sort when start timestamps can tie (equal `active_from` rows
    * would otherwise make the lead nondeterministic). */
  def overlaps(dim: DataFrame, nk: String,
               tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(nk))
      .orderBy((col("active_from").asc +: tiebreak.map(_.asc)): _*)
    dim.withColumn("__next_from", lead(col("active_from"), 1).over(w))
      .filter(col("__next_from").isNotNull &&
        col("active_to") > col("__next_from"))
      .drop("__next_from")
  }

  /** Self theta-join overlap detection over arbitrary intervals —
    * the reference's literal formulation (SQL:1677-1683). Equi-join on
    * the key with the interval predicates post-filtered; the streamed
    * side is spread to an explicit partition count because the input
    * (a filtered interval set) is typically one small scan partition
    * while the output is per-key-quadratic — without it the whole
    * expansion runs in a single task (same AQE input-byte-sizing trap
    * as the LSH band joins, see [[graft.ext.Dedup.spread]]). */
  def overlappingPairs(iv: DataFrame, key: String, id: String,
                       from: String, to: String): DataFrame = {
    val a = graft.ext.Dedup.spread(iv.select(col(key), col(id).as("id1"),
      col(from).as("f1"), col(to).as("t1")), col(key))
    val b = iv.select(col(key).as("__k2"), col(id).as("id2"),
      col(from).as("f2"), col(to).as("t2"))
    a.join(b, col(key) === col("__k2") && col("id1") < col("id2") &&
        col("f1") < col("t2") && col("f2") < col("t1"))
      .select(col(key), col("id1"), col("id2"))
  }

  /** Warehouse structure check — reference Stage 5.1 (SQL:1626-1638):
    * the expected table list, anti-joined against what actually exists
    * on disk. Returns the MISSING tables (empty = pass), exactly the
    * reference's `WHERE t.name IS NULL` shape. The existence probe is
    * driver-side metadata (one filesystem call per expected table, not
    * a data scan). */
  def structure(spark: org.apache.spark.sql.SparkSession,
                expected: Seq[(String, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    val missing = expected.filterNot { case (_, path) =>
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(hconf).exists(p)
    }
    spark.createDataFrame(
      missing.map { case (n, p) =>
        org.apache.spark.sql.Row(n, p) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("table_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("expected_path",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** Soft referential integrity (reference SQL:1746-1783): fact rows
    * whose dim key resolves to nothing. Returns the FULL violation
    * set; callers wanting the reference's `TOP 100` listing apply
    * their own deterministic `orderBy(...).limit(n)` (a cap applied
    * here, before the caller's sort, would pick arbitrary rows). */
  def refIntegrityViolations(fact: DataFrame, dim: DataFrame,
                             factKey: Column, dimKey: Column): DataFrame =
    fact.join(dim, factKey === dimKey, "left")
      .filter(dimKey.isNull)

  /** The post-publish Stage-5 sweep of [[graft.Pipeline.runAll]]
    * (reference SQL:1616-1783), fused into three actions instead of
    * one `count()` per check: [[factSweep]], [[dimSweep]] and
    * [[dateSweep]]. Each returns exactly the counts the per-check
    * functions above give when counted one by one (pinned by
    * `SweepParitySpec`); the three are independent of each other, so
    * a caller may run them concurrently.
    *
    * The fact sweep: `ref_<dim>` per entry of `dims` (stored
    * non-Unknown surrogates that resolve to no `<dim>_id`, the
    * reference's soft referential integrity, SQL:1746-1783) and
    * `dup_fact_nk` (duplicate `sales_nk` groups), in one pass. Each
    * dimension's id side is made distinct before the probe, so a
    * duplicated surrogate id cannot fan a fact row out into a false
    * duplicate. */
  def factSweep(fact: DataFrame, dims: Seq[(String, DataFrame)]): Map[String, Long] = {
    val probed = dims.foldLeft(fact.select(
        (col("sales_nk") +: dims.map { case (d, _) => col(s"${d}_sk") }): _*)) {
      case (f, (d, dim)) =>
        val ids = dim.select(col(s"${d}_id").as("__id")).distinct()
        f.join(ids, col(s"${d}_sk") === col("__id"), "left")
          .withColumn(s"ref_$d", flag(col(s"${d}_sk") =!= -1L && col("__id").isNull))
          .drop("__id", s"${d}_sk")
    }
    val refs = dims.map { case (d, _) => s"ref_$d" }
    val perKey = probed.groupBy(col("sales_nk")).agg(count(lit(1)).as("__n"),
      refs.map(r => sum(col(r)).as(r)): _*)
    totals(perKey, flag(col("__n") > 1L).as("dup_fact_nk") +: refs.map(col))
  }

  /** The SCD2 sweep over `dims` = (name, natural key, table), as ONE
    * window over their union keyed by (dimension, natural key):
    * `multi_current_<name>` ([[multipleCurrent]]),
    * `null_validity_<name>` ([[nullValidity]]) and `overlaps_<name>`
    * ([[overlaps]] with the `active_to` tiebreak: versions can share
    * an `active_from` — two changes at one timestamp give a zero-width
    * version — and end-ordering puts the zero-width interval first so
    * overlap-free chains never flag spuriously). Natural keys are
    * compared as strings so dimensions with different key types can
    * share the window; the cast is injective for the integral and
    * string keys the warehouse uses. */
  def dimSweep(dims: Seq[(String, String, DataFrame)]): Map[String, Long] = {
    val all = dims.map { case (name, nk, dim) =>
      dim.select(lit(name).as("__dim"), col(nk).cast("string").as("__nk"),
        col("is_current"), col("active_from"), col("active_to"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("__dim"), col("__nk"))
      .orderBy(col("active_from").asc, col("active_to").asc)
    val perKey = all.withColumn("__next_from", lead(col("active_from"), 1).over(w))
      .groupBy(col("__dim"), col("__nk")).agg(
        sum(flag(col("is_current") === 1L)).as("__current"),
        sum(flag(col("active_from").isNull || col("active_to").isNull)).as("null_validity"),
        sum(flag(col("__next_from").isNotNull &&
          col("active_to") > col("__next_from"))).as("overlaps"))
    val perDim = perKey.groupBy(col("__dim")).agg(
        sum(flag(col("__current") > 1L)).as("multi_current"),
        sum(col("null_validity")).as("null_validity"),
        sum(col("overlaps")).as("overlaps"))
      .collect().map(r => r.getString(0) -> r).toMap
    dims.flatMap { case (name, _, _) =>
      Seq("multi_current", "null_validity", "overlaps").map(check =>
        s"${check}_$name" -> perDim.get(name).map(_.getAs[Long](check)).getOrElse(0L))
    }.toMap
  }

  /** The date-dimension sweep: its row count (`dim_date_rows`, not a
    * violation) and `dup_date` (duplicate `date_value` groups, as
    * [[duplicates]] counts them) in one pass. */
  def dateSweep(dimDate: DataFrame): Map[String, Long] =
    totals(dimDate.groupBy(col("date_value")).agg(count(lit(1)).as("__n")),
      Seq(col("__n").as("dim_date_rows"), flag(col("__n") > 1L).as("dup_date")))

  /** 1 where `cond` holds, else 0 (NULL counts as not holding, as in
    * the filters of the per-check functions). */
  private def flag(cond: Column): Column = when(cond, 1L).otherwise(0L)

  /** Sum each named column of `df` into one driver-side row; an empty
    * input sums to 0. */
  private def totals(df: DataFrame, cols: Seq[Column]): Map[String, Long] = {
    val named = df.select(cols: _*)
    val row = named.agg(sum(col(named.columns.head)),
      named.columns.tail.map(c => sum(col(c))): _*).first()
    named.columns.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }.toMap
  }

  /** Pre-publish validation gate — the reference author's production
    * note ("checks should be in the pipeline and stop each stage on
    * error", SQL:1622): invariants run against the CANDIDATE frame,
    * before `StagedWrite.overwrite`, so a violating build aborts with
    * the published table, the watermark, and the run log's success
    * row all untouched. Stronger than the post-publish sweep in
    * [[graft.Pipeline.runAll]]'s validation stage, which fires only
    * after the run is committed.
    *
    * Cost: one extra pass over the candidate per check (`isEmpty` =
    * scan-until-first-violation, not a full count). With `touchedKeys`
    * given, the pass covers only the touched natural-key subset —
    * untouched rows pass through the incremental loads byte-identical
    * and were validated when they were published, and every checked
    * invariant is per-key (dup/current/overlap within one nk), so a
    * violation can only involve touched rows. That keeps gate cost
    * proportional to the delta, not the table. */
  def prePublish(checks: Seq[(String, DataFrame)]): Unit = {
    val broken = checks.collect { case (name, df) if !df.isEmpty => name }
    if (broken.nonEmpty)
      throw new PrePublishViolation(broken)
  }

  private def scopeTo(candidate: DataFrame, nk: String,
                      touchedKeys: Option[DataFrame]): DataFrame =
    touchedKeys match {
      case Some(keys) =>
        candidate.join(keys.select(col(nk)).distinct(), Seq(nk), "left_semi")
      case None => candidate
    }

  /** SCD2 dimension candidate invariants (reference SQL:1658-1683),
    * scoped to `touchedKeys` when the caller knows which natural keys
    * this load rewrote (None = full validation, e.g. initial load). */
  def prePublishDim(candidate: DataFrame, nk: String,
                    tiebreak: Seq[Column] = Nil,
                    touchedKeys: Option[DataFrame] = None): Unit = {
    val scoped = scopeTo(candidate, nk, touchedKeys)
    prePublish(Seq(
      "multi_current" -> multipleCurrent(scoped, nk),
      "null_validity" -> nullValidity(scoped),
      "overlaps" -> overlaps(scoped, nk, tiebreak)))
  }

  /** Fact candidate invariants: natural key uniqueness (the
    * reference's unique index on sales_nk, SQL:536-565). Incremental
    * loads pass the delta's key set: untouched ⋕ contested partitions
    * are disjoint by construction, so a duplicate can only appear
    * among touched keys. */
  def prePublishFact(candidate: DataFrame, nk: String,
                     touchedKeys: Option[DataFrame] = None): Unit =
    prePublish(Seq(
      "dup_nk" -> duplicates(scopeTo(candidate, nk, touchedKeys), Seq(nk))))

  /** Source↔DW reconciliation (reference Stage X, SQL:1814-1839). */
  def reconcile(source: DataFrame, dw: DataFrame, sourceSum: Column,
                dwSum: Column): DataFrame = {
    val s = source.agg(count(lit(1)).as("src_rows"), sourceSum.as("src_sum"))
    val d = dw.agg(count(lit(1)).as("dw_rows"), dwSum.as("dw_sum"))
    s.crossJoin(d)
  }
}
