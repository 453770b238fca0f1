package graft.marts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mart views — reference Stage 4 (SQL:1548-1612), where every mart
  * is a view: current-only, column-pruned BI projections of the dims,
  * the run-history view and the star rollups. A view is a pure
  * DataFrame function here, so Catalyst inlines it into the consumer's
  * plan (the Spark analog of SQL Server view inlining, SURVEY §3.2);
  * nothing writes a mart. The reference's passthrough fact view
  * (SQL:1597-1612) is the `int/factsales` table itself.
  */
object Marts {

  /** Current-version-only projection of an SCD2 dimension
    * (reference SQL:1555-1565). */
  def current(dim: DataFrame, columns: Seq[String]): DataFrame =
    dim.filter(col("is_current") === 1L).select(columns.map(col): _*)

  /** Region-revenue rollup (the TPC-H Q5 join shape): revenue per
    * (region, nation, order-year) through the five-way star
    * region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem. The join-planning
    * showcase of the mart layer: region/nation are O(10)-row
    * broadcast dims at ANY scale, customer broadcasts while it fits
    * (AQE decides past the threshold), and the two fact-sized tables
    * meet on their natural o_orderkey key — no join ever shuffles a
    * dimension-shaped table. Revenue folds as cent-exact
    * decimal(14,2)·(1−d) products summed in decimal, published as
    * floor-BIGINT cents (explicit floor: decimal→int casts truncate on
    * one engine and round on the other) — order-independent, engine-identical. */
  def regionRevenue(region: DataFrame, nation: DataFrame,
                    customer: DataFrame, orders: DataFrame,
                    lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(14,2)") * 100 *
          (lit(1).cast("decimal(14,2)") -
            col("l_discount").cast("decimal(14,2)")))
          .cast("decimal(18,2)").as("rev"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).cast("long").as("order_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey")), col("c_nationkey") === col("n_nationkey"))
      .join(region.select(col("r_regionkey"), col("r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"), col("order_year"))
      .agg(floor(sum(col("rev"))).cast("long").as("revenue_cents"),
        count(lit(1)).cast("long").as("n_lines"))

  /** DuckDB twin of [[regionRevenue]]. */
  val regionRevenueOracleSql: String =
    """
    |SELECT r_name, n_name,
    |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS order_year,
    |  CAST(floor(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
    |      * (CAST(1 AS DECIMAL(14,2)) - CAST(l_discount AS DECIMAL(14,2)))
    |    AS DECIMAL(18,2)))) AS BIGINT) AS revenue_cents,
    |  CAST(count(*) AS BIGINT) AS n_lines
    |FROM lineitem
    |JOIN orders   ON l_orderkey = o_orderkey
    |JOIN customer ON o_custkey = c_custkey
    |JOIN nation   ON c_nationkey = n_nationkey
    |JOIN region   ON n_regionkey = r_regionkey
    |GROUP BY r_name, n_name, order_year
    |ORDER BY r_name, n_name, order_year
    |""".stripMargin.trim

  /** Top-revenue orders (the TPC-H Q3 join shape): the highest-value
    * orders of one market segment in one date window —
    * customer ⋈ orders ⋈ lineitem with both filters PUSHED to their
    * scans (PlanSpec-checkable `PushedFilters`), cent-exact revenue,
    * deterministic top-k via (revenue desc, orderkey) through
    * TakeOrderedAndProject — the k-bounded sort, never a global one. */
  def topOrders(customer: DataFrame, orders: DataFrame,
                lineitem: DataFrame, segment: String, dateLo: String,
                dateHi: String, k: Int): DataFrame =
    lineitem
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(14,2)") * 100 *
          (lit(1).cast("decimal(14,2)") -
            col("l_discount").cast("decimal(14,2)")))
          .cast("decimal(18,2)").as("rev"))
      .join(orders
          .filter(to_date(col("o_orderdate")) >= lit(dateLo) &&
            to_date(col("o_orderdate")) <= lit(dateHi))
          .select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("order_date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === segment)
          .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("order_date"))
      .agg(floor(sum(col("rev"))).cast("long").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(k)

  /** DuckDB twin of [[topOrders]]. */
  def topOrdersOracleSql(segment: String, dateLo: String,
                         dateHi: String, k: Int): String =
    s"""
    |SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
    |  CAST(floor(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
    |      * (CAST(1 AS DECIMAL(14,2)) - CAST(l_discount AS DECIMAL(14,2)))
    |    AS DECIMAL(18,2)))) AS BIGINT) AS revenue_cents
    |FROM lineitem
    |JOIN orders   ON l_orderkey = o_orderkey
    |JOIN customer ON o_custkey = c_custkey
    |WHERE c_mktsegment = '$segment'
    |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '$dateLo' AND DATE '$dateHi'
    |GROUP BY l_orderkey, order_date
    |ORDER BY revenue_cents DESC, l_orderkey
    |LIMIT $k
    |""".stripMargin.trim

  /** Run-history inspection mart over the ETL run log — the
    * reference's evidence view (README:39-40, Runlogs.png: the run log
    * queried after each load to show per-run row counts and timing).
    * Adds what the raw log makes the reader compute: wall-clock
    * duration, total rows touched, and an `is_latest` flag per run
    * name (window over run_name — the log has one row per load per
    * run, so the partition is trivially small at any corpus scale). */
  def runHistory(log: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val recency = Window.partitionBy(col("run_name"))
      .orderBy(col("started_at").desc, col("ended_at").desc)
    log.select(col("run_name"), col("started_at"), col("ended_at"),
        ((unix_millis(col("ended_at")) - unix_millis(col("started_at")))
          / 1000.0).as("duration_sec"),
        col("rows_inserted"), col("rows_updated"), col("rows_deleted"),
        (col("rows_inserted") + col("rows_updated") + col("rows_deleted"))
          .as("rows_touched"),
        col("status"), col("error_message"))
      .withColumn("is_latest",
        (row_number().over(recency) === 1).cast("long"))
  }
}
