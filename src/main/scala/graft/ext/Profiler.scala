package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass column profiler — the deequ/"ANALYZE TABLE"-shaped data
  * quality summary a warehouse publishes next to every load: per
  * column, the null count, the EXACT distinct count, and the row
  * count, as rows (so downstream checks can join/alert on them).
  *
  * Shape: the columns are stacked into (col_name, value-as-string)
  * pairs with one `explode` projection — a width-fold row expansion
  * that collapses immediately into the partial hash aggregate on
  * (col_name, value), so the shuffle carries only per-partition
  * distinct values per column, never the expanded rows. A second
  * (col_name)-keyed aggregate folds the value groups into the three
  * stats. Exactly two shuffles for ANY number of columns — versus the
  * naive `count(distinct a), count(distinct b), ...` single-agg plan,
  * which Catalyst expands into a #cols-fold row multiplication that
  * must SHUFFLE the multiplied rows (distinct aggregates cannot
  * partial-aggregate together).
  *
  * The string cast is for stacking heterogeneous types only; it is
  * injective per column on every fixture type (Java's Double/
  * Timestamp renderings are value-unique), so distinct counts equal
  * distinct counts of the raw values. Exact distinct at 100 TB
  * deliberately pays one |distinct-values| shuffle — the sketch
  * alternative is the declared `approx_distinct` surface.
  */
object Profiler {

  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stacked = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("__v"))): _*))
        .as("__s"))
      .select(col("__s.col_name").as("col_name"), col("__s.__v").as("__v"))
    stacked.groupBy(col("col_name"), col("__v"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("col_name"))
      .agg(
        sum(when(col("__v").isNull, col("__n")).otherwise(lit(0L)))
          .cast("long").as("n_null"),
        count(when(col("__v").isNotNull, lit(1))).cast("long")
          .as("n_distinct"),
        sum(col("__n")).cast("long").as("n_rows"))
  }

  /** DuckDB twin of [[profileStats]]: one SELECT per column. */
  def profileStatsOracleSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(count(*) AS BIGINT) AS n_rows FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Global running sum over a TOTAL order, without a single-task
    * sort: range-repartition on the order columns, sum locally per
    * bucket, and add per-bucket bases from a broadcast prefix sum
    * over at most `numShufflePartitions` rows — the Terasort-shaped
    * twin of Corpus.seqPackGlobal's shard cumsum, usable with any
    * ordering (here: revenue DESCENDING). The order must be
    * tie-free for engine parity (callers append a unique key). */
  private[ext] def globalCumsum(df: DataFrame, order: Seq[Column],
                                value: Column, out: String): DataFrame = {
    // two-phase core shared with SuffixArray.denseRank — see
    // [[Rank.withPidAndBase]] for the boundary-draw consistency
    // argument.
    // `order` must be ascending null-free keys (descending numeric
    // orders pass the negated column — paretoAbc does).
    val withPb = Rank.withPidAndBase(df, order, value)
    val wLoc = Window.partitionBy(col("__pid")).orderBy(order: _*)
    withPb.withColumn("__lc", sum(value).over(wLoc))
      .withColumn(out, (col("__base") + col("__lc")).cast("long"))
      .drop("__pid", "__lc", "__base")
  }

  /** ABC (Pareto) classification of parts by revenue: parts sorted by
    * revenue descending, banded by cumulative revenue share — A up to
    * 80%, B up to 95%, C the tail. Shares are exact integer ppm over
    * cent-exact revenue (decimal(14,2) per row, summed exactly, ×100
    * to BIGINT cents), so the banding is bit-identical across
    * engines. The running total is [[globalCumsum]] — no single-task
    * global sort; the corpus-total divisor rides a broadcast 1-row
    * cross join. */
  def paretoAbc(lineitem: DataFrame, partKey: Column,
                price: Column): DataFrame = {
    val rev = lineitem.groupBy(partKey.cast("long").as("part_id"))
      .agg((sum(price.cast("decimal(14,2)")) * 100).cast("long")
        .as("rev_cents"))
    // descending revenue as an ascending negated key (the rank core
    // requires ascending null-free keys — see globalCumsum's note)
    val cum = globalCumsum(rev,
      Seq(-col("rev_cents"), col("part_id")),
      col("rev_cents"), "cum_cents")
    val total = rev.agg(sum(col("rev_cents")).cast("long").as("__total"))
    cum.crossJoin(broadcast(total))
      .withColumn("cum_ppm", expr("cum_cents * 1000000 div __total"))
      .select(col("part_id"), col("rev_cents"),
        col("cum_ppm").cast("long").as("cum_ppm"),
        when(col("cum_ppm") <= 800000, "A")
          .when(col("cum_ppm") <= 950000, "B")
          .otherwise("C").as("band"))
  }

  /** Distribution-drift check (PSI-shaped, integer-exact): decile
    * bins of a reference period's value distribution, applied to the
    * comparison period — the data-quality gate that catches "the new
    * feed's prices shifted" before a model trains on it. Classic PSI
    * multiplies log-ratios (floats that no two engines fold alike);
    * this publishes the per-bin counts and exact ppm shares plus the
    * absolute share drift — the alarm-worthy number — entirely in
    * integer space.
    *
    * Binning is RANK-based, not interpolated-quantile-based: the
    * reference rows are ranked by (cents, unique key) with the
    * two-phase [[globalCumsum]] (never one global sort task), tile =
    * ((rank−1)·10) div n + 1 (the ntile formula, but from an explicit
    * deterministic rank), and bin k's upper fence is max(cents) of
    * tile k. Interpolated quantile boundaries are doubles whose last
    * ulp differs by fold order; rank fences are integers, so the
    * same row can never land in different bins on different engines.
    * Comparison rows bin against the 9 inner fences via a broadcast
    * 9-row cross join folded back to a sum — linear, no sort.
    *
    * Known asymmetry (deterministic, engine-consistent): reference
    * rows are binned by RANK, comparison rows by the derived VALUE
    * fences — so when one value is tied across a rank fence, the
    * tied reference rows split between two bins while every tied
    * comparison row lands in the lower bin, slightly inflating
    * drift_ppm for heavily-tied distributions. Binning the ref side
    * by its own fences would erase the guarantee that ref deciles
    * hold exactly n/10 rows, which is what makes the expected-share
    * denominator exact; the asymmetry is the cheaper trade. */
  def driftCheck(lineitem: DataFrame, pivotDate: String,
                 nBins: Int = 10): DataFrame = {
    val rows = lineitem.select(
      (col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"),
      col("l_orderkey").cast("long").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      (to_date(col("l_shipdate")) < to_date(lit(pivotDate))).as("is_ref"))
    val ref = rows.filter(col("is_ref"))
    val cmp = rows.filter(!col("is_ref"))

    val nRef = ref.agg(count(lit(1)).as("__n"))
    val ranked = globalCumsum(ref,
        Seq(col("cents"), col("ok"), col("ln")), lit(1L), "rk")
      .crossJoin(broadcast(nRef))
      .withColumn("bin", expr(s"((rk - 1) * $nBins) div __n + 1"))
    val refBins = ranked.groupBy("bin")
      .agg(count(lit(1)).as("n_ref"), max(col("cents")).as("fence"))

    val fences = refBins.filter(col("bin") < nBins)
      .select(col("fence").as("f"))
    val cmpBins = cmp.crossJoin(broadcast(fences))
      .groupBy(col("cents"), col("ok"), col("ln"))
      .agg((sum(when(col("cents") > col("f"), 1L).otherwise(0L)) + 1L)
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_cmp"))

    val nCmp = cmp.agg(count(lit(1)).as("__m"))
    refBins.join(cmpBins, Seq("bin"), "left")
      .crossJoin(broadcast(nRef)).crossJoin(broadcast(nCmp))
      .select(col("bin").cast("long").as("bin"),
        col("n_ref").cast("long").as("n_ref"),
        coalesce(col("n_cmp"), lit(0L)).cast("long").as("n_cmp"),
        expr("(n_ref * 1000000) div __n").as("share_ref_ppm"),
        expr("(coalesce(n_cmp, 0) * 1000000) div __m").as("share_cmp_ppm"))
      .withColumn("drift_ppm",
        abs(col("share_ref_ppm") - col("share_cmp_ppm")))
  }

  /** Per-group box-plot statistics — quartiles, IQR, whisker fences,
    * and the count beyond the 1.5·IQR fences — the distribution
    * summary a profiler publishes per segment. Quartiles of INTEGER
    * data are exact quarter-integers (the interpolation position
    * 0.25·(n−1) and the lerp weights are dyadic, so nothing ever
    * rounds), hence everything is published ×4 in BIGINT — q1_x4,
    * med_x4, q3_x4, iqr_x4 — and the outlier test is the pure integer
    * comparison 8·x vs 8·q ± 12·iqr (fences are exact eighths).
    * Engines agree bit-for-bit; no double crosses the boundary.
    * One hash aggregate per group for the quartiles (exact
    * percentile: per-group sort of segment-bounded groups) + one
    * fence recount. */
  def boxplotStats(df: DataFrame, group: Column, value: Column): DataFrame = {
    val rows = df.select(group.as("grp"), value.cast("long").as("x"))
    val q = rows.groupBy("grp").agg(
      count(lit(1)).cast("long").as("n_rows"),
      (expr("percentile(x, 0.25)") * 4).cast("long").as("q1_x4"),
      (expr("percentile(x, 0.5)") * 4).cast("long").as("med_x4"),
      (expr("percentile(x, 0.75)") * 4).cast("long").as("q3_x4"))
      .withColumn("iqr_x4", col("q3_x4") - col("q1_x4"))
    rows.join(q, "grp")
      .groupBy(col("grp"), col("n_rows"), col("q1_x4"), col("med_x4"),
        col("q3_x4"), col("iqr_x4"))
      .agg(sum(when(
          col("x") * 8 < col("q1_x4") * 2 - col("iqr_x4") * 3 ||
            col("x") * 8 > col("q3_x4") * 2 + col("iqr_x4") * 3,
          1L).otherwise(0L)).cast("long").as("n_outliers"))
      .select("grp", "n_rows", "q1_x4", "med_x4", "q3_x4", "iqr_x4",
        "n_outliers")
  }

  /** DuckDB twin of [[boxplotStats]] for `valueExpr` grouped by
    * `groupExpr` over `table` — which may be any FROM fragment
    * (a table name, or a parenthesized subquery with alias and
    * WHERE), so compositions reuse this shell verbatim. */
  def boxplotStatsOracleSql(table: String, groupExpr: String,
                            valueExpr: String): String =
    s"""
    |WITH rows0 AS (
    |  SELECT $groupExpr AS grp, CAST($valueExpr AS BIGINT) AS x
    |  FROM $table),
    |q AS (
    |  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
    |    CAST(4 * quantile_cont(x, 0.25) AS BIGINT) AS q1_x4,
    |    CAST(4 * quantile_cont(x, 0.5) AS BIGINT) AS med_x4,
    |    CAST(4 * quantile_cont(x, 0.75) AS BIGINT) AS q3_x4
    |  FROM rows0 GROUP BY grp)
    |SELECT grp, n_rows, q1_x4, med_x4, q3_x4,
    |  q3_x4 - q1_x4 AS iqr_x4,
    |  CAST(sum(CASE WHEN x * 8 < q1_x4 * 2 - (q3_x4 - q1_x4) * 3
    |    OR x * 8 > q3_x4 * 2 + (q3_x4 - q1_x4) * 3
    |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    |FROM rows0 JOIN q USING (grp)
    |GROUP BY grp, n_rows, q1_x4, med_x4, q3_x4
    |ORDER BY grp
    |""".stripMargin.trim

  /** Equi-depth histogram — the optimizer-statistics artifact behind
    * every ANALYZE TABLE: `nBins` buckets of (as close as integer
    * arithmetic allows) equal row count, each with its value bounds
    * and exact population. Equi-WIDTH histograms collapse under skew
    * (one hot bucket, the rest empty); equi-depth adapts bin edges to
    * the data and is what join-cardinality estimation actually wants.
    * Same rank discipline as [[driftCheck]]: two-phase global rank
    * (never a single-task sort), the explicit ntile formula, bounds
    * as min/max INTEGERS per tile — no interpolated doubles. */
  def equiDepthHist(df: DataFrame, value: Column, tieBreak: Seq[Column],
                    nBins: Int): DataFrame = {
    val rows = df.select((value.cast("long").as("x") +: tieBreak): _*)
    val n = rows.agg(count(lit(1)).as("__n"))
    globalCumsum(rows,
        col("x") +: tieBreak, lit(1L), "rk")
      .crossJoin(broadcast(n))
      .withColumn("bin", expr(s"((rk - 1) * $nBins) div __n + 1"))
      .groupBy("bin")
      .agg(min("x").cast("long").as("lo"), max("x").cast("long").as("hi"),
        count(lit(1)).cast("long").as("n_rows"))
      .select(col("bin").cast("long").as("bin"), col("lo"), col("hi"),
        col("n_rows"))
  }

  /** DuckDB twin of [[equiDepthHist]] for cent-exact
    * l_extendedprice over `lineitem`. */
  def equiDepthHistOracleSql(nBins: Int): String =
    s"""
    |WITH rows0 AS (
    |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
    |      AS x,
    |    l_orderkey, l_linenumber
    |  FROM lineitem),
    |ranked AS (
    |  SELECT x,
    |    ((row_number() OVER (ORDER BY x, l_orderkey, l_linenumber) - 1)
    |      * $nBins) // (SELECT count(*) FROM rows0) + 1 AS bin
    |  FROM rows0)
    |SELECT CAST(bin AS BIGINT) AS bin,
    |  CAST(min(x) AS BIGINT) AS lo, CAST(max(x) AS BIGINT) AS hi,
    |  CAST(count(*) AS BIGINT) AS n_rows
    |FROM ranked GROUP BY bin ORDER BY bin
    |""".stripMargin.trim

  /** Spearman rank correlation between two measures, EXACT: both
    * columns are ranked under a deterministic total preorder (value,
    * other value, caller keys — so only FULLY identical rows tie),
    * making ranks distinct 1..n, and the no-ties identity
    * ρ = 1 − 6·Σd²/(n·(n²−1)) is an exact rational — the published
    * ppm value is bit-identical across engines, no Pearson float
    * folds, no sqrt. (The tie-broken ordering is the operator's
    * declared semantics under ties.) Rows identical in EVERY column
    * are interchangeable; they are paired canonically — i-th smallest
    * a-rank with i-th smallest b-rank via a group-bounded occurrence
    * window — because the caller's keys need not be unique (the
    * fixture's (orderkey, linenumber) is not!) and joining ranks on a
    * non-unique key would multiply rows and corrupt Σd². The
    * monotone-association number behind "are these two columns
    * redundant / co-orderable?" — e.g. picking z-order key pairs.
    * Two two-phase global ranks + two duplicate-bounded occurrence
    * windows + one equi-join + decimal(38,0) Σd² fold. */
  def spearmanCorr(df: DataFrame, a: Column, b: Column,
                   keys: Seq[Column]): DataFrame = {
    val rows = df.select(
      (a.cast("long").as("xa") +: b.cast("long").as("xb") +:
        keys.zipWithIndex.map { case (k, i) => k.as(s"k$i") }): _*)
    val kCols = keys.indices.map(i => col(s"k$i"))
    // Each rank order carries BOTH values before the keys, so two
    // rows can only tie in a sort when they are identical in every
    // column — i.e. genuinely interchangeable. Rows identical in all
    // columns are then paired CANONICALLY (i-th smallest a-rank with
    // i-th smallest b-rank, via a group-bounded occurrence window),
    // which both engines reproduce; joining on a non-unique key alone
    // would multiply duplicate rows and corrupt Σd².
    val grpNames = "xa" +: "xb" +: keys.indices.map(i => s"k$i")
    val grp = Window.partitionBy(grpNames.map(col): _*)
    val ra = globalCumsum(rows,
        Seq(col("xa"), col("xb")) ++ kCols,
        lit(1L), "ra")
      .withColumn("occ", row_number().over(grp.orderBy(col("ra"))))
    val rb = globalCumsum(rows,
        Seq(col("xb"), col("xa")) ++ kCols,
        lit(1L), "rb")
      .withColumn("occ", row_number().over(grp.orderBy(col("rb"))))
      .select((col("rb") +: col("occ") +: grpNames.map(col)): _*)
    ra.join(rb, grpNames :+ "occ")
      .select((col("ra").cast("decimal(38,0)") -
        col("rb").cast("decimal(38,0)")).as("__d"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__d") * col("__d")).as("__sd2"))
      .select(col("__n").cast("long").as("n_rows"),
        col("__sd2").cast("long").as("sum_d2"),
        expr("1000000 - (6000000 * __sd2) div (__n * (__n * __n - 1))")
          .cast("long").as("rho_ppm"))
  }

  /** DuckDB twin of [[spearmanCorr]] for (l_quantity,
    * l_extendedprice) over `lineitem` with the (orderkey, linenumber)
    * tie-break. */
  val spearmanOracleSql: String =
    """
    |WITH rows0 AS (
    |  SELECT CAST(l_quantity AS BIGINT) AS xa,
    |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS xb,
    |    l_orderkey AS k0, l_linenumber AS k1
    |  FROM lineitem),
    |ra AS (
    |  SELECT xa, xb, k0, k1,
    |    CAST(row_number() OVER (ORDER BY xa, xb, k0, k1) AS HUGEINT) AS ra
    |  FROM rows0),
    |rb AS (
    |  SELECT xa, xb, k0, k1,
    |    CAST(row_number() OVER (ORDER BY xb, xa, k0, k1) AS HUGEINT) AS rb
    |  FROM rows0),
    |rao AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0, k1
    |    ORDER BY ra) AS occ FROM ra),
    |rbo AS (
    |  SELECT *, row_number() OVER (PARTITION BY xa, xb, k0, k1
    |    ORDER BY rb) AS occ FROM rb)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
    |  CAST(1000000 - (6000000 * sum((ra - rb) * (ra - rb)))
    |    // (CAST(count(*) AS HUGEINT)
    |        * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT)
    |    AS rho_ppm
    |FROM rao JOIN rbo USING (xa, xb, k0, k1, occ)
    |""".stripMargin.trim

  /** Month-over-month and year-over-year growth of monthly revenue,
    * in exact integer ppm — the first derivative every BI dashboard
    * charts. One monthly rollup (cent-exact decimal sums), one
    * 1-month lag and one 12-month lag over the month sequence
    * (ROWS lags over a gap-free month spine would need a fill; this
    * measures against the PREVIOUS OBSERVED month/one-year-back month
    * by exact month arithmetic, so gap months yield NULL growth
    * rather than a silently wrong comparison). |months|-bounded. */
  def growthRates(orders: DataFrame, ts: Column, amount: Column): DataFrame = {
    val monthly = orders
      .select((year(to_date(ts)) * 12 + month(to_date(ts)) - 1)
          .cast("long").as("month_idx"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("month_idx")
      .agg((sum(col("amt")) * 100).cast("long").as("rev_cents"))
    val w = Window.orderBy(col("month_idx"))
    val withLags = monthly
      .withColumn("prev_idx", lag(col("month_idx"), 1).over(w))
      .withColumn("prev_rev", lag(col("rev_cents"), 1).over(w))
      .withColumn("yoy_idx", lag(col("month_idx"), 12).over(w))
      .withColumn("yoy_rev", lag(col("rev_cents"), 12).over(w))
    // growth = (rev/prev − 1) in ppm, computed as a POSITIVE floor
    // division minus the 1e6 shift: Spark's `div` truncates toward
    // zero while DuckDB's `//` floors, so a negative numerator would
    // disagree by one — with both operands positive, floor == trunc.
    withLags.select(
      expr("month_idx div 12").cast("long").as("year"),
      (col("month_idx") % 12 + 1).cast("long").as("month"),
      col("rev_cents"),
      when(col("prev_idx") === col("month_idx") - 1,
        expr("(rev_cents * 1000000) div prev_rev - 1000000"))
        .as("mom_ppm"),
      when(col("yoy_idx") === col("month_idx") - 12,
        expr("(rev_cents * 1000000) div yoy_rev - 1000000"))
        .as("yoy_ppm"))
  }

  /** DuckDB twin of [[growthRates]] over `orders`. */
  val growthRatesOracleSql: String =
    """
    |WITH monthly AS (
    |  SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
    |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS month_idx,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev_cents
    |  FROM orders GROUP BY 1),
    |lagged AS (
    |  SELECT *, lag(month_idx, 1) OVER w AS prev_idx,
    |    lag(rev_cents, 1) OVER w AS prev_rev,
    |    lag(month_idx, 12) OVER w AS yoy_idx,
    |    lag(rev_cents, 12) OVER w AS yoy_rev
    |  FROM monthly WINDOW w AS (ORDER BY month_idx))
    |SELECT CAST(month_idx // 12 AS BIGINT) AS year,
    |  CAST(month_idx % 12 + 1 AS BIGINT) AS month, rev_cents,
    |  CASE WHEN prev_idx = month_idx - 1
    |    THEN CAST(rev_cents * 1000000 // prev_rev - 1000000 AS BIGINT)
    |    END AS mom_ppm,
    |  CASE WHEN yoy_idx = month_idx - 12
    |    THEN CAST(rev_cents * 1000000 // yoy_rev - 1000000 AS BIGINT)
    |    END AS yoy_ppm
    |FROM lagged ORDER BY year, month
    |""".stripMargin.trim

  /** RFM (recency / frequency / monetary) customer segmentation —
    * the classic marketing partition, exact: per customer the last
    * order date, order count, and cent-exact spend; each dimension
    * scored 1–5 by rank quintile (the explicit ntile formula over the
    * two-phase [[globalCumsum]] rank with the customer key as the
    * deterministic tie-break — never an interpolated-quantile double,
    * never a single-task ntile window). The composite `rfm` code
    * (R·100 + F·10 + M) is the segment label downstream targeting
    * joins on. */
  def rfmSegments(orders: DataFrame, custKey: Column, ts: Column,
                  amount: Column): DataFrame = {
    val perCust = orders.groupBy(custKey.cast("long").as("cust_id"))
      .agg(
        datediff(max(to_date(ts)), lit("1970-01-01")).cast("long")
          .as("last_day"),
        count(lit(1)).cast("long").as("n_orders"),
        (sum(amount.cast("decimal(14,2)")) * 100).cast("long")
          .as("spend_cents"))
    val n = perCust.agg(count(lit(1)).as("__n"))
    def score(c: Column, out: String, df: DataFrame): DataFrame =
      globalCumsum(df, Seq(c, col("cust_id")), lit(1L), "__rk")
        .crossJoin(broadcast(n))
        .withColumn(out, expr("((__rk - 1) * 5) div __n + 1"))
        .drop("__rk", "__n")
    val scored = score(col("spend_cents"), "m_score",
      score(col("n_orders"), "f_score",
        score(col("last_day"), "r_score", perCust)))
    scored.select(col("cust_id"), col("last_day"), col("n_orders"),
      col("spend_cents"),
      col("r_score").cast("long").as("r_score"),
      col("f_score").cast("long").as("f_score"),
      col("m_score").cast("long").as("m_score"),
      (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .cast("long").as("rfm"))
  }

  /** DuckDB twin of [[rfmSegments]] over `orders`. */
  val rfmSegmentsOracleSql: String =
    """
    |WITH per_cust AS (
    |  SELECT CAST(o_custkey AS BIGINT) AS cust_id,
    |    CAST(date_diff('day', DATE '1970-01-01',
    |      max(CAST(o_orderdate AS DATE))) AS BIGINT) AS last_day,
    |    CAST(count(*) AS BIGINT) AS n_orders,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS spend_cents
    |  FROM orders GROUP BY 1),
    |n AS (SELECT count(*) AS total FROM per_cust),
    |scored AS (
    |  SELECT *,
    |    ((row_number() OVER (ORDER BY last_day, cust_id) - 1) * 5)
    |      // total + 1 AS r_score,
    |    ((row_number() OVER (ORDER BY n_orders, cust_id) - 1) * 5)
    |      // total + 1 AS f_score,
    |    ((row_number() OVER (ORDER BY spend_cents, cust_id) - 1) * 5)
    |      // total + 1 AS m_score
    |  FROM per_cust CROSS JOIN n)
    |SELECT cust_id, last_day, n_orders, spend_cents,
    |  CAST(r_score AS BIGINT) AS r_score,
    |  CAST(f_score AS BIGINT) AS f_score,
    |  CAST(m_score AS BIGINT) AS m_score,
    |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
    |FROM scored ORDER BY cust_id
    |""".stripMargin.trim

  /** New-vs-returning split of monthly ACTIVE CUSTOMERS — the
    * acquisition-vs-retention read every growth dashboard opens with.
    * A customer's FIRST order month (min over their orders — the same
    * canonical-witness convention as the dedup family) marks them new
    * that month and returning in any later active month; per month the
    * distinct-customer counts and the new share in exact ppm (every
    * customer is new exactly once — ProfilerSpec pins the
    * conservation). One customer-keyed agg for the first-month map,
    * one join back, one monthly distinct rollup. */
  def newVsReturning(orders: DataFrame, custKey: Column,
                     ts: Column): DataFrame = {
    val om = orders.select(custKey.cast("long").as("cust_id"),
      (year(to_date(ts)) * 12 + month(to_date(ts)) - 1).cast("long")
        .as("month_idx"))
    val first = om.groupBy("cust_id")
      .agg(min("month_idx").as("first_month"))
    // distinct (customer, month) FIRST, then plain sums — two
    // count(distinct) in one agg would take Catalyst's Expand
    // row-multiplication path (the profile_stats scaladoc's villain)
    om.distinct().join(first, "cust_id")
      .groupBy("month_idx")
      .agg(
        sum(when(col("month_idx") === col("first_month"), 1L)
          .otherwise(0L)).as("n_new"),
        sum(when(col("month_idx") =!= col("first_month"), 1L)
          .otherwise(0L)).as("n_returning"))
      .select(expr("month_idx div 12").cast("long").as("year"),
        (col("month_idx") % 12 + 1).cast("long").as("month"),
        col("n_new").cast("long").as("n_new"),
        col("n_returning").cast("long").as("n_returning"),
        expr("(n_new * 1000000) div (n_new + n_returning)").cast("long")
          .as("new_share_ppm"))
  }

  /** DuckDB twin of [[newVsReturning]] over `orders`. */
  val newVsReturningOracleSql: String =
    """
    |WITH om AS (
    |  SELECT CAST(o_custkey AS BIGINT) AS cust_id,
    |    CAST(year(CAST(o_orderdate AS DATE)) * 12
    |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS month_idx
    |  FROM orders),
    |first_m AS (
    |  SELECT cust_id, min(month_idx) AS first_month FROM om GROUP BY 1),
    |monthly AS (
    |  SELECT month_idx,
    |    count(DISTINCT CASE WHEN month_idx = first_month
    |      THEN cust_id END) AS n_new,
    |    count(DISTINCT CASE WHEN month_idx <> first_month
    |      THEN cust_id END) AS n_returning
    |  FROM om JOIN first_m USING (cust_id) GROUP BY month_idx)
    |SELECT CAST(month_idx // 12 AS BIGINT) AS year,
    |  CAST(month_idx % 12 + 1 AS BIGINT) AS month,
    |  CAST(n_new AS BIGINT) AS n_new,
    |  CAST(n_returning AS BIGINT) AS n_returning,
    |  CAST(n_new * 1000000 // (n_new + n_returning) AS BIGINT)
    |    AS new_share_ppm
    |FROM monthly ORDER BY year, month
    |""".stripMargin.trim

  /** Lag-k rank autocorrelation of the daily event volume — "does
    * this week predict next week": the exact-ppm [[spearmanCorr]]
    * applied to (xₜ, xₜ₋ₖ) pairs built by an exact k-day self-join on
    * the daily rollup (gap days produce no pair rather than a
    * misaligned one). Spearman rather than Pearson keeps it exact
    * AND robust to volume spikes. |days|-bounded. */
  def volumeAutocorr(events: DataFrame, ts: Column, lagDays: Int): DataFrame = {
    val daily = events
      .select(datediff(to_date(ts), lit("1970-01-01")).cast("long")
        .as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    val lagged = daily.select((col("day") + lagDays).as("day"),
      col("x").as("x_prev"))
    val pairs = daily.join(lagged, "day")
    spearmanCorr(pairs, col("x"), col("x_prev"), Seq(col("day")))
  }

  /** DuckDB twin of [[volumeAutocorr]] over `events`. */
  def volumeAutocorrOracleSql(lagDays: Int): String =
    s"""
    |WITH daily AS (
    |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
    |      AS BIGINT) AS day,
    |    CAST(count(*) AS BIGINT) AS x
    |  FROM events GROUP BY 1),
    |pairs AS (
    |  SELECT a.day AS k0, a.x AS xa, b.x AS xb
    |  FROM daily a JOIN daily b ON a.day = b.day + $lagDays),
    |ra AS (
    |  SELECT xa, xb, k0,
    |    CAST(row_number() OVER (ORDER BY xa, xb, k0) AS HUGEINT) AS ra
    |  FROM pairs),
    |rb AS (
    |  SELECT xa, xb, k0,
    |    CAST(row_number() OVER (ORDER BY xb, xa, k0) AS HUGEINT) AS rb
    |  FROM pairs),
    |rao AS (SELECT *, row_number() OVER (PARTITION BY xa, xb, k0
    |  ORDER BY ra) AS occ FROM ra),
    |rbo AS (SELECT *, row_number() OVER (PARTITION BY xa, xb, k0
    |  ORDER BY rb) AS occ FROM rb)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
    |  CAST(1000000 - (6000000 * sum((ra - rb) * (ra - rb)))
    |    // (CAST(count(*) AS HUGEINT)
    |        * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT)
    |    AS rho_ppm
    |FROM rao JOIN rbo USING (xa, xb, k0, occ)
    |""".stripMargin.trim

  /** Gap-filled daily order series — the dense spine every
    * time-series model and charting layer needs: one row per
    * calendar day from the first to the last observed order date,
    * zero-filled on days with no orders (a lag/EWMA over a sparse
    * series silently compares non-adjacent days; the spine makes
    * adjacency honest). The spine is `sequence`+`explode` over the
    * [min, max] day scalars (one broadcast 1-row hop, the DateDim
    * generator pattern) left-joined to the daily rollup —
    * |days|-bounded regardless of fact volume. */
  def calendarFill(orders: DataFrame, ts: Column,
                   amount: Column): DataFrame = {
    val daily = orders
      .select(datediff(to_date(ts), lit("1970-01-01")).cast("long")
          .as("day"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("amt")) * 100).cast("long").as("rev_cents"))
    val bounds = daily.agg(min("day").as("__lo"), max("day").as("__hi"))
    val spine = bounds
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(
        date_add(to_date(lit("1970-01-01")), col("day").cast("int"))
          .as("date_value"),
        coalesce(col("n_orders"), lit(0L)).cast("long").as("n_orders"),
        coalesce(col("rev_cents"), lit(0L)).cast("long").as("rev_cents"),
        when(col("n_orders").isNull, 1L).otherwise(0L).as("is_gap"))
  }

  /** DuckDB twin of [[calendarFill]] over `orders`. */
  val calendarFillOracleSql: String =
    """
    |WITH daily AS (
    |  SELECT CAST(date_diff('day', DATE '1970-01-01',
    |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
    |    CAST(count(*) AS BIGINT) AS n_orders,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev_cents
    |  FROM orders GROUP BY 1),
    |spine AS (
    |  SELECT unnest(generate_series((SELECT min(day) FROM daily),
    |    (SELECT max(day) FROM daily))) AS day)
    |SELECT DATE '1970-01-01' + CAST(spine.day AS INTEGER) AS date_value,
    |  coalesce(n_orders, 0) AS n_orders,
    |  coalesce(rev_cents, 0) AS rev_cents,
    |  CAST(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END AS BIGINT)
    |    AS is_gap
    |FROM spine LEFT JOIN daily ON spine.day = daily.day
    |ORDER BY date_value
    |""".stripMargin.trim

  /** Sample-based estimation audit — the 100 TB exploratory tool
    * made honest: a deterministic 1-in-`rate` hash sample of
    * lineitem (the engine-portable universal hash on the row key —
    * reproducible, unlike TABLESAMPLE's rng), the scaled estimates
    * it implies for row count and revenue, the exact values, and the
    * signed error in ppm. The point of publishing the audit as a
    * QUERY: before trusting a sampled dashboard at scale, run this
    * once on a slice where the truth is computable and read the
    * error column. All integer (cent-exact decimal sums, ppm via
    * positive-shifted floor division). */
  def sampleEstimate(lineitem: DataFrame, rate: Int): DataFrame = {
    val rows = lineitem.select(
      (col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"),
      graft.functions.Hashing.permBucket(
        col("l_orderkey") * 8 + col("l_linenumber"), 6, rate)
        .as("__b"))
    rows.agg(
        count(lit(1)).cast("long").as("n_true"),
        sum(col("cents")).cast("long").as("rev_true"),
        count(when(col("__b") === 0, lit(1))).cast("long").as("n_sample"),
        sum(when(col("__b") === 0, col("cents")).otherwise(lit(0L)))
          .cast("long").as("rev_sample"))
      .select(col("n_true"), col("rev_true"), col("n_sample"),
        (col("n_sample") * rate).as("n_est"),
        (col("rev_sample") * rate).as("rev_est"),
        expr(s"(n_sample * $rate * 1000000) div n_true - 1000000")
          .cast("long").as("n_err_ppm"),
        expr(s"(rev_sample * $rate * 1000000) div rev_true - 1000000")
          .cast("long").as("rev_err_ppm"))
  }

  /** DuckDB twin of [[sampleEstimate]] over `lineitem`. */
  def sampleEstimateOracleSql(rate: Int): String = {
    val b = graft.functions.Hashing.permBucketSql(
      "(l_orderkey * 8 + l_linenumber)", 6, rate)
    s"""
    |WITH rows0 AS (
    |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
    |      AS cents,
    |    $b AS b
    |  FROM lineitem),
    |agg AS (
    |  SELECT CAST(count(*) AS BIGINT) AS n_true,
    |    CAST(sum(cents) AS BIGINT) AS rev_true,
    |    CAST(count(*) FILTER (b = 0) AS BIGINT) AS n_sample,
    |    CAST(coalesce(sum(cents) FILTER (b = 0), 0) AS BIGINT)
    |      AS rev_sample
    |  FROM rows0)
    |SELECT n_true, rev_true, n_sample,
    |  CAST(n_sample * $rate AS BIGINT) AS n_est,
    |  CAST(rev_sample * $rate AS BIGINT) AS rev_est,
    |  CAST(n_sample * $rate * 1000000 // n_true - 1000000 AS BIGINT)
    |    AS n_err_ppm,
    |  CAST(rev_sample * $rate * 1000000 // rev_true - 1000000 AS BIGINT)
    |    AS rev_err_ppm
    |FROM agg
    |""".stripMargin.trim
  }

  /** Inter-purchase interval distribution — "how often do customers
    * come back", the lifecycle number behind churn models: per
    * customer the day-gaps between CONSECUTIVE orders (customer-keyed
    * lag window), profiled through the exact quarter-scaled
    * [[boxplotStats]] shell grouped by the customer's order count
    * band (2-3 / 4-9 / 10+ orders — frequency changes the rhythm, so
    * one global median misleads). Integer day gaps, exact quartiles. */
  def purchaseIntervals(orders: DataFrame, custKey: Column,
                        ts: Column): DataFrame = {
    val w = Window.partitionBy(col("cust_id")).orderBy(col("day"),
      col("okey"))
    val gaps = orders.select(custKey.cast("long").as("cust_id"),
        datediff(to_date(ts), lit("1970-01-01")).cast("long").as("day"),
        col("o_orderkey").cast("long").as("okey"))
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
      .filter(col("gap").isNotNull)
    val nOrders = orders.groupBy(custKey.cast("long").as("cust_id"))
      .agg(count(lit(1)).as("n_ord"))
    val banded = gaps.join(nOrders, "cust_id")
      .withColumn("band",
        when(col("n_ord") >= 10, "c_10plus")
          .when(col("n_ord") >= 4, "b_4to9")
          .otherwise("a_2to3"))
    boxplotStats(banded, col("band"), col("gap"))
  }

  /** DuckDB twin of [[purchaseIntervals]] over `orders` — the gap
    * derivation as a FROM fragment through the shared
    * [[boxplotStatsOracleSql]] shell. */
  val purchaseIntervalsOracleSql: String = {
    val gaps =
      """(SELECT g.cust_id, g.gap,
        |  CASE WHEN n.n_ord >= 10 THEN 'c_10plus'
        |       WHEN n.n_ord >= 4 THEN 'b_4to9'
        |       ELSE 'a_2to3' END AS band
        |FROM (
        |  SELECT CAST(o_custkey AS BIGINT) AS cust_id,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |        CAST(o_orderdate AS DATE)) AS BIGINT)
        |      - lag(CAST(date_diff('day', DATE '1970-01-01',
        |          CAST(o_orderdate AS DATE)) AS BIGINT))
        |        OVER (PARTITION BY o_custkey
        |              ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |      AS gap
        |  FROM orders) g
        |JOIN (SELECT CAST(o_custkey AS BIGINT) AS cust_id,
        |        count(*) AS n_ord FROM orders GROUP BY 1) n
        |  USING (cust_id)
        |WHERE g.gap IS NOT NULL) src""".stripMargin
    boxplotStatsOracleSql(gaps, "band", "gap")
  }

  /** Single-source supply risk — per part, how many DISTINCT
    * suppliers ever shipped it, rolled into the supplier-count
    * histogram with a risk flag: a part with one supplier is a
    * single point of failure, and the histogram (count → how many
    * parts / how much line volume) is the procurement dashboard's
    * opening row. Two hash aggregates; |distinct counts|-bounded. */
  def supplyRisk(lineitem: DataFrame, k: Long = 2): DataFrame = {
    val perPart = lineitem
      .select(col("l_partkey").cast("long").as("part_id"),
        col("l_suppkey").cast("long").as("supp_id"))
      .distinct()
      .groupBy("part_id").agg(count(lit(1)).as("n_suppliers"))
    val lines = lineitem.groupBy(col("l_partkey").cast("long")
      .as("part_id")).agg(count(lit(1)).as("n_lines"))
    perPart.join(lines, "part_id")
      .groupBy("n_suppliers")
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum("n_lines").cast("long").as("n_lines"))
      .select(col("n_suppliers").cast("long").as("n_suppliers"),
        col("n_parts"), col("n_lines"),
        when(col("n_suppliers") < k, 1L).otherwise(0L).as("at_risk"))
  }

  /** DuckDB twin of [[supplyRisk]] over `lineitem`. */
  def supplyRiskOracleSql(k: Long = 2): String =
    s"""
    |WITH per_part AS (
    |  SELECT part_id, count(*) AS n_suppliers
    |  FROM (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS part_id,
    |          CAST(l_suppkey AS BIGINT) AS supp_id FROM lineitem)
    |  GROUP BY part_id),
    |lines AS (
    |  SELECT CAST(l_partkey AS BIGINT) AS part_id, count(*) AS n_lines
    |  FROM lineitem GROUP BY 1)
    |SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
    |  CAST(count(*) AS BIGINT) AS n_parts,
    |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
    |  CAST(CASE WHEN n_suppliers < $k THEN 1 ELSE 0 END AS BIGINT)
    |    AS at_risk
    |FROM per_part JOIN lines USING (part_id)
    |GROUP BY n_suppliers ORDER BY n_suppliers
    |""".stripMargin.trim

  /** Weekday × hour activity heat map — the exact (ISO dow, hour)
    * event-count grid every ops dashboard renders first; 7×24-bounded
    * output, one hash aggregate, share of total in exact ppm. */
  def activityHeatmap(events: DataFrame, ts: Column): DataFrame = {
    val grid = events.select(
        ((dayofweek(to_date(ts)) + 5) % 7 + 1).cast("long").as("dow"),
        hour(ts.cast("timestamp")).cast("long").as("hour"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).cast("long").as("n_events"))
    val total = grid.agg(sum("n_events").cast("long").as("__t"))
    grid.crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("(n_events * 1000000) div __t").cast("long")
          .as("share_ppm"))
  }

  /** DuckDB twin of [[activityHeatmap]] over `events`. */
  val activityHeatmapOracleSql: String =
    """
    |WITH grid AS (
    |  SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
    |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
    |    CAST(count(*) AS BIGINT) AS n_events
    |  FROM events GROUP BY 1, 2)
    |SELECT dow, hour, n_events,
    |  CAST(n_events * 1000000 // (SELECT sum(n_events) FROM grid)
    |    AS BIGINT) AS share_ppm
    |FROM grid ORDER BY dow, hour
    |""".stripMargin.trim

  /** Monthly order-value trend — average AND median side by side
    * (the pair that exposes mix shift: a rising average over a flat
    * median means the tail moved, not the typical customer). Exact
    * integer forms: average as floor cents (positive floor division,
    * trunc ≡ floor), median doubled to an exact integer (two-long
    * interpolation); |months|-bounded. */
  def aovTrend(orders: DataFrame, ts: Column, amount: Column): DataFrame =
    orders.select(
        (year(to_date(ts)) * 12 + month(to_date(ts)) - 1).cast("long")
          .as("month_idx"),
        (amount.cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .groupBy("month_idx")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("cents")).as("__sum"),
        (expr("percentile(cents, 0.5)") * 2).cast("long").as("med_x2"))
      .select(expr("month_idx div 12").cast("long").as("year"),
        (col("month_idx") % 12 + 1).cast("long").as("month"),
        col("n_orders"),
        expr("__sum div n_orders").cast("long").as("avg_cents"),
        col("med_x2"))

  /** DuckDB twin of [[aovTrend]] over `orders`. */
  val aovTrendOracleSql: String =
    """
    |WITH monthly AS (
    |  SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
    |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS month_idx,
    |    CAST(count(*) AS BIGINT) AS n_orders,
    |    sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
    |      AS total_cents,
    |    CAST(2 * median(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
    |      AS BIGINT)) AS BIGINT) AS med_x2
    |  FROM orders GROUP BY 1)
    |SELECT CAST(month_idx // 12 AS BIGINT) AS year,
    |  CAST(month_idx % 12 + 1 AS BIGINT) AS month, n_orders,
    |  CAST(total_cents // n_orders AS BIGINT) AS avg_cents, med_x2
    |FROM monthly ORDER BY year, month
    |""".stripMargin.trim

  /** Gini coefficient of a value's concentration across entities —
    * "what share of revenue do the top customers hold?" as ONE
    * number, the inequality audit behind every skew/concentration
    * dashboard. Computed from the rank identity
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  xᵢ ascending, i = 1..n
    *
    * entirely in integers: per-entity cent-exact sums, ascending rank
    * from the two-phase [[globalCumsum]] (tie-broken by entity id —
    * never a single-task sort), decimal(38,0) moment folds, exact ppm
    * division at the end. Output is one row; engines agree exactly. */
  def giniConcentration(df: DataFrame, entity: Column,
                        value: Column): DataFrame = {
    val sums = df.groupBy(entity.cast("long").as("ent"))
      .agg((sum(value.cast("decimal(14,2)")) * 100).cast("long")
        .as("cents"))
    val ranked = globalCumsum(sums,
      Seq(col("cents"), col("ent")), lit(1L), "rk")
    ranked.agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("cents").cast("decimal(38,0)")).as("__sx"),
        sum(col("rk").cast("decimal(38,0)") *
          col("cents").cast("decimal(38,0)")).as("__sr"))
      .select(col("__n").cast("long").as("n_entities"),
        col("__sx").cast("long").as("total_cents"),
        expr("((__sr * 2 - (__n + 1) * __sx) * 1000000) div (__n * __sx)")
          .cast("long").as("gini_ppm"))
  }

  /** DuckDB twin of [[giniConcentration]] for revenue per customer
    * (orders.o_totalprice by o_custkey). */
  val giniRevenueOracleSql: String =
    """
    |WITH sums AS (
    |  SELECT CAST(o_custkey AS BIGINT) AS ent,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS cents
    |  FROM orders GROUP BY 1),
    |ranked AS (
    |  SELECT cents,
    |    CAST(row_number() OVER (ORDER BY cents, ent) AS HUGEINT) AS rk
    |  FROM sums)
    |SELECT CAST(count(*) AS BIGINT) AS n_entities,
    |  CAST(sum(cents) AS BIGINT) AS total_cents,
    |  CAST((2 * sum(rk * CAST(cents AS HUGEINT))
    |      - (count(*) + 1) * sum(CAST(cents AS HUGEINT))) * 1000000
    |    // (count(*) * sum(CAST(cents AS HUGEINT))) AS BIGINT) AS gini_ppm
    |FROM ranked
    |""".stripMargin.trim

  /** DuckDB twin of [[driftCheck]] over `lineitem`. */
  def driftCheckOracleSql(pivotDate: String, nBins: Int = 10): String =
    s"""
    |WITH rows0 AS (
    |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
    |      AS cents,
    |    l_orderkey AS ok, l_linenumber AS ln,
    |    CAST(l_shipdate AS DATE) < DATE '$pivotDate' AS is_ref
    |  FROM lineitem),
    |ref AS (SELECT * FROM rows0 WHERE is_ref),
    |cmp AS (SELECT * FROM rows0 WHERE NOT is_ref),
    |ranked AS (
    |  SELECT cents,
    |    ((row_number() OVER (ORDER BY cents, ok, ln) - 1) * $nBins)
    |      // (SELECT count(*) FROM ref) + 1 AS bin
    |  FROM ref),
    |ref_bins AS (
    |  SELECT bin, count(*) AS n_ref, max(cents) AS fence
    |  FROM ranked GROUP BY bin),
    |cmp_bins AS (
    |  SELECT bin, count(*) AS n_cmp FROM (
    |    SELECT cents, ok, ln,
    |      sum(CASE WHEN cents > f THEN 1 ELSE 0 END) + 1 AS bin
    |    FROM cmp CROSS JOIN
    |      (SELECT fence AS f FROM ref_bins WHERE bin < $nBins)
    |    GROUP BY cents, ok, ln)
    |  GROUP BY bin)
    |SELECT CAST(r.bin AS BIGINT) AS bin,
    |  CAST(n_ref AS BIGINT) AS n_ref,
    |  CAST(coalesce(n_cmp, 0) AS BIGINT) AS n_cmp,
    |  CAST(n_ref * 1000000 // (SELECT count(*) FROM ref) AS BIGINT)
    |    AS share_ref_ppm,
    |  CAST(coalesce(n_cmp, 0) * 1000000 // (SELECT count(*) FROM cmp)
    |    AS BIGINT) AS share_cmp_ppm,
    |  CAST(abs(n_ref * 1000000 // (SELECT count(*) FROM ref)
    |    - coalesce(n_cmp, 0) * 1000000 // (SELECT count(*) FROM cmp))
    |    AS BIGINT) AS drift_ppm
    |FROM ref_bins r LEFT JOIN cmp_bins c ON r.bin = c.bin
    |ORDER BY bin
    |""".stripMargin.trim

  /** DuckDB twin of [[paretoAbc]] over `lineitem`. */
  val paretoAbcOracleSql: String =
    """
    |WITH r AS (
    |  SELECT CAST(l_partkey AS BIGINT) AS part_id,
    |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev_cents
    |  FROM lineitem GROUP BY 1),
    |c AS (
    |  SELECT part_id, rev_cents,
    |    sum(rev_cents) OVER (ORDER BY rev_cents DESC, part_id) AS cum_cents,
    |    sum(rev_cents) OVER () AS total_cents
    |  FROM r)
    |SELECT part_id, rev_cents,
    |  CAST(cum_cents * 1000000 // total_cents AS BIGINT) AS cum_ppm,
    |  CASE WHEN cum_cents * 1000000 // total_cents <= 800000 THEN 'A'
    |       WHEN cum_cents * 1000000 // total_cents <= 950000 THEN 'B'
    |       ELSE 'C' END AS band
    |FROM c ORDER BY part_id
    |""".stripMargin.trim

  /** CUSUM change-point detection (Page 1954 — public) over the
    * daily revenue series: the sequential drift alarm that fires on
    * a SUSTAINED small shift long before any single day trips a
    * z-score gate — [[zscoreOutliers]] catches spikes, this catches
    * creep (a fee mis-applied every day, a slow feed decay).
    *
    * The textbook recursion s_i = max(0, s_{i−1} + (x_i − μ − slack))
    * looks sequential, but the reset-at-zero max has a closed form
    * over prefix sums: with P_i = Σ_{t≤i}(x_t − μ − slack) and
    * P_0 = 0, s_i = P_i − min_{0≤j≤i} P_j — one running sum and one
    * running min, both plain windows, no driver loop and no UDF
    * recursion on either engine.
    *
    * Everything is exact integer cents: μ = total div n_days
    * (truncating BIGINT division, positive so both engines agree),
    * slack = μ div 20 (the 5 % "allowance" k of the CUSUM
    * literature), alarm threshold h = μ (one average day of excess).
    * The windows run over the DAILY aggregate — |days|-bounded — so
    * the single-partition window is a few thousand rows at any
    * corpus scale; the only full-data pass is the first hash agg. */
  def cusumDrift(orders: DataFrame, dateCol: Column,
                 amount: Column): DataFrame = {
    val daily = orders
      .select(dateCol.as("date_value"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("date_value")
      .agg((sum(col("amt")) * 100).cast("long").as("rev_cents"))
    // sign-safe magnitude division (the dimStats/theilSen pattern):
    // Spark `div` truncates toward zero while DuckDB `//` floors, so
    // a refund-heavy (negative-total) series would diverge unguarded.
    val withMu = daily
      .withColumn("__tot", sum(col("rev_cents")).over(Window.partitionBy()))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("mu", expr(
        "case when __tot >= 0 then __tot div __n " +
        "else -((-__tot) div __n) end"))
    val w = Window.orderBy(col("date_value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withMu
      .withColumn("__p",
        sum(col("rev_cents") - col("mu") - expr(
          "case when mu >= 0 then mu div 20 " +
          "else -((-mu) div 20) end")).over(w))
      .withColumn("cusum_cents",
        (col("__p") - least(min(col("__p")).over(w), lit(0L))).cast("long"))
      .select(col("date_value"), col("rev_cents"),
        col("cusum_cents"),
        when(col("cusum_cents") > col("mu"), lit(1L)).otherwise(lit(0L))
          .as("alarm"))
      .orderBy("date_value")
  }

  /** Benford first-digit ppm shares for each leading digit d of
    * log10(1+1/d), floored to ppm — exact literals, no libm at
    * query time. */
  val BenfordPpm: Seq[(Int, Long)] = Seq(1 -> 301029L, 2 -> 176091L,
    3 -> 124938L, 4 -> 96910L, 5 -> 79181L, 6 -> 66946L, 7 -> 57991L,
    8 -> 51152L, 9 -> 45757L)

  /** Benford's-law first-digit audit (Newcomb 1881 / Benford 1938 —
    * public; the standard forensic-accounting screen): natural
    * multiplicative data (order totals, populations, revenues) has
    * first significant digit d with probability log10(1+1/d) —
    * fabricated or capped numbers don't. Per digit: observed count,
    * observed share (ppm, integer division), the Benford expectation
    * (compile-time ppm literals — no libm at query time), and the
    * absolute deviation the auditor thresholds on.
    *
    * The digit is taken from the DECIMAL STRING rendering (first
    * [1-9] match) rather than via log10/pow — string logic is
    * bit-identical across engines while float log10 at bucket
    * boundaries is not. One projection + one 9-bucket hash agg;
    * output is 9 rows at any scale. */
  def benfordAudit(df: DataFrame, amount: Column): DataFrame = {
    val digitExpr = regexp_extract(amount.cast("decimal(14,2)")
      .cast("string"), "[1-9]", 0)
    val expected = BenfordPpm.foldLeft(lit(null).cast("long")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    df.select(digitExpr.cast("long").as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("__tot", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n").cast("long").as("n"),
        // decimal(38,0) fold: bare long `n * 1000000` wraps past
        // ~9.2e12 rows per bucket; the widened product cannot.
        expr("cast(n as decimal(38,0)) * 1000000 div __tot")
          .cast("long").as("share_ppm"))
      .withColumn("benford_ppm", expected)
      .withColumn("dev_ppm",
        abs(col("share_ppm") - col("benford_ppm")).cast("long"))
      .orderBy("digit")
  }

  /** DuckDB twin of [[benfordAudit]] over `orders.o_totalprice`. */
  val benfordOracleSql: String = {
    val cases = BenfordPpm.map { case (d, p) =>
      s"WHEN $d THEN $p" }.mkString(" ")
    s"""
    |WITH d AS (
    |  SELECT CAST(nullif(regexp_extract(
    |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR),
    |    '[1-9]', 0), '') AS BIGINT) AS digit
    |  FROM orders),
    |c AS (
    |  SELECT digit, count(*) AS n, sum(count(*)) OVER () AS tot
    |  FROM d WHERE digit IS NOT NULL GROUP BY digit)
    |SELECT digit, CAST(n AS BIGINT) AS n,
    |  CAST(CAST(n AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_ppm,
    |  CAST(CASE digit $cases END AS BIGINT) AS benford_ppm,
    |  CAST(abs(CAST(n AS HUGEINT) * 1000000 // tot
    |    - CASE digit $cases END) AS BIGINT) AS dev_ppm
    |FROM c ORDER BY digit
    |""".stripMargin.trim
  }

  /** Order-independent table fingerprint: Σ polyHash(row) mod M —
    * the cross-system reconciliation primitive ("does the replica
    * equal the source?") that a row-count + SUM check can't provide
    * (two compensating errors pass SUM; any single changed byte
    * moves the hash sum). Addition is commutative, so the checksum
    * is partition-order- and fold-order-independent BY CONSTRUCTION:
    * each side computes it in one map-side-combining pass with no
    * sort, no collect, no row shipping — at 100 TB the comparison
    * ships 16 bytes per table. M = 2^61−1 (Mersenne) keeps the
    * residue a BIGINT on both engines while the fold itself runs in
    * exact decimal(38,0)/HUGEINT.
    *
    * Columns are rendered to canonical strings and joined with '|'
    * — the caller picks columns whose string forms are engine-stable
    * (ints, strings, dates, pinned-scale decimals). */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val rowStr = concat_ws("|", cols.map(_.cast("string")): _*)
    df.select(graft.functions.Hashing.polyHash(rowStr).as("__h"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("__h").cast("decimal(38,0)")).as("__s"))
      .select(col("n_rows"),
        expr("cast(__s % 2305843009213693951 as long)").as("checksum"))
  }

  /** DuckDB twin of [[tableChecksum]] for `colExprs` over `table`
    * (each expression must already render engine-stable text). */
  def tableChecksumOracleSql(table: String, colExprs: Seq[String]): String = {
    val rowStr = s"concat_ws('|', ${colExprs.mkString(", ")})"
    s"""
    |WITH h AS (
    |  SELECT ${graft.functions.Hashing.polyHashSql(rowStr)} AS h
    |  FROM $table)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum
    |FROM h
    |""".stripMargin.trim
  }

  /** Winsorized (clipped) moments: the robust mean that survives the
    * fat tail a raw mean drowns in — clip every value to the
    * [p05, p95] rank fences, then aggregate. Unlike trimming (drop
    * the tails), winsorizing keeps n constant, which is what a
    * reconciliation needs. Fences are RANK-based (value at the
    * ceil(p·n)-th position in the (value, tiebreak) total order —
    * the same fence rule as [[equiDepthHist]]), found by one
    * two-phase global rank; the clip itself is a broadcast of TWO
    * scalar fences against the raw rows — no second rank pass, no
    * per-row shuffle. All integer cents; means are integer division.
    */
  def winsorizedStats(df: DataFrame, value: Column,
                      tieBreak: Seq[Column],
                      loPpm: Long = 50000L,
                      hiPpm: Long = 950000L): DataFrame = {
    val rows = df.select((value.cast("long").as("x") +:
      tieBreak.zipWithIndex.map { case (c, i) => c.as(s"k$i") }): _*)
    val ranked = globalCumsum(rows,
      col("x") +: tieBreak.indices.map(i => col(s"k$i")), lit(1L), "rk")
    val n1 = rows.agg(count(lit(1)).as("n"))
    val fences = ranked.crossJoin(n1)
      .select(col("x"), col("rk"),
        expr(s"(n * $loPpm + 999999) div 1000000").as("k_lo"),
        expr(s"(n * $hiPpm + 999999) div 1000000").as("k_hi"))
      .agg(min(when(col("rk") >= col("k_lo"), col("x"))).as("lo_fence"),
        min(when(col("rk") >= col("k_hi"), col("x"))).as("hi_fence"))
    rows.crossJoin(fences)
      .select(col("x"), col("lo_fence"), col("hi_fence"),
        least(greatest(col("x"), col("lo_fence")), col("hi_fence"))
          .as("clipped"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        first(col("lo_fence")).cast("long").as("lo_fence"),
        first(col("hi_fence")).cast("long").as("hi_fence"),
        sum(when(col("x") < col("lo_fence"), 1L).otherwise(0L))
          .cast("long").as("n_clipped_lo"),
        sum(when(col("x") > col("hi_fence"), 1L).otherwise(0L))
          .cast("long").as("n_clipped_hi"),
        // sign-safe: truncating `div` vs flooring `//` diverge on
        // negative sums (refunds/credits) — fold magnitudes instead.
        expr("case when sum(cast(x as decimal(38,0))) >= 0 " +
          "then sum(cast(x as decimal(38,0))) div count(1) " +
          "else -((-sum(cast(x as decimal(38,0)))) div count(1)) end")
          .cast("long").as("raw_mean"),
        expr("case when sum(cast(clipped as decimal(38,0))) >= 0 " +
          "then sum(cast(clipped as decimal(38,0))) div count(1) " +
          "else -((-sum(cast(clipped as decimal(38,0)))) div count(1)) end")
          .cast("long").as("winsorized_mean"))
  }

  /** DuckDB twin of [[winsorizedStats]] over `lineitem` price cents
    * with the (orderkey, linenumber) tie-break. */
  def winsorizedStatsOracleSql(loPpm: Long = 50000L,
                               hiPpm: Long = 950000L): String =
    s"""
    |WITH r AS (
    |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
    |      AS x,
    |    l_orderkey AS k0, l_linenumber AS k1
    |  FROM lineitem),
    |rk AS (
    |  SELECT x, CAST(row_number() OVER (ORDER BY x, k0, k1) AS BIGINT)
    |    AS rk, count(*) OVER () AS n
    |  FROM r),
    |f AS (
    |  SELECT
    |    min(CASE WHEN rk >= (n * $loPpm + 999999) // 1000000 THEN x END)
    |      AS lo_fence,
    |    min(CASE WHEN rk >= (n * $hiPpm + 999999) // 1000000 THEN x END)
    |      AS hi_fence
    |  FROM rk)
    |SELECT CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(any_value(lo_fence) AS BIGINT) AS lo_fence,
    |  CAST(any_value(hi_fence) AS BIGINT) AS hi_fence,
    |  CAST(sum(CASE WHEN x < lo_fence THEN 1 ELSE 0 END) AS BIGINT)
    |    AS n_clipped_lo,
    |  CAST(sum(CASE WHEN x > hi_fence THEN 1 ELSE 0 END) AS BIGINT)
    |    AS n_clipped_hi,
    |  CAST(CASE WHEN sum(x) >= 0 THEN sum(x) // count(*)
    |    ELSE -((-sum(x)) // count(*)) END AS BIGINT) AS raw_mean,
    |  CAST(CASE WHEN sum(least(greatest(x, lo_fence), hi_fence)) >= 0
    |    THEN sum(least(greatest(x, lo_fence), hi_fence)) // count(*)
    |    ELSE -((-sum(least(greatest(x, lo_fence), hi_fence)))
    |      // count(*)) END AS BIGINT) AS winsorized_mean
    |FROM r CROSS JOIN f
    |""".stripMargin.trim

  /** Forward fill over the dense calendar spine: per key, each gap
    * day carries the LAST OBSERVED value — the "current balance /
    * last known price as of any day" view that [[calendarFill]]'s
    * zero-fill cannot express (zero is a VALUE; absence means
    * "unchanged"). One observed-day aggregate, one spine cross join
    * (|keys| × |days| — bounded by the calendar, not the fact
    * table), one `last(_, ignoreNulls)` running window per key.
    * Engine note: Spark's `last(ignoreNulls)` ≡ DuckDB's
    * `last_value(x IGNORE NULLS)` over the same frame. */
  def forwardFill(df: DataFrame, key: Column, dateCol: Column,
                  amount: Column): DataFrame = {
    val daily = df.select(key.as("key"), dateCol.as("d"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("key", "d")
      .agg((sum(col("amt")) * 100).cast("long").as("rev_cents"))
    val span = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = daily.select(col("key")).distinct()
      .crossJoin(span)
      .select(col("key"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("date_value"))
    val w = Window.partitionBy(col("key")).orderBy(col("date_value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily,
        spine("key") === daily("key") && col("date_value") === col("d"),
        "left")
      .select(spine("key").as("key"), col("date_value"),
        col("rev_cents"))
      .withColumn("filled_cents",
        coalesce(last(col("rev_cents"), ignoreNulls = true).over(w),
          lit(0L)).cast("long"))
      .withColumn("observed",
        when(col("rev_cents").isNotNull, 1L).otherwise(0L))
      .drop("rev_cents")
      .orderBy("key", "date_value")
  }

  /** DuckDB twin of [[forwardFill]] for per-nation daily order
    * revenue (orders→customer→nation). */
  val forwardFillOracleSql: String =
    """
    |WITH daily AS (
    |  SELECT c.c_nationkey AS key, o.o_orderdate AS d,
    |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev_cents
    |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    |  GROUP BY 1, 2),
    |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    |spine AS (
    |  SELECT k.key,
    |    CAST(unnest(generate_series(span.d0, span.d1, INTERVAL 1 DAY))
    |      AS DATE) AS date_value
    |  FROM (SELECT DISTINCT key FROM daily) k CROSS JOIN span)
    |SELECT s.key, s.date_value,
    |  CAST(coalesce(last_value(daily.rev_cents IGNORE NULLS)
    |    OVER (PARTITION BY s.key ORDER BY s.date_value
    |          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS filled_cents,
    |  CAST(CASE WHEN daily.rev_cents IS NOT NULL THEN 1 ELSE 0 END
    |    AS BIGINT) AS observed
    |FROM spine s LEFT JOIN daily
    |  ON daily.key = s.key AND daily.d = s.date_value
    |ORDER BY s.key, s.date_value
    |""".stripMargin.trim

  /** Grid-sketch quantiles: the MERGEABLE approximate-percentile
    * path for 100 TB. Values land in G equi-width cells between the
    * observed [lo, hi]; the cell histogram is fixed G-row state that
    * merges by cell-wise addition (shards/days sketch independently,
    * the combine is a G-row reduce — same mergeability contract as
    * [[Corpus.cmsCells]]), and quantile p reads the first cell whose
    * cumulative count covers p. The published estimate is the cell's
    * UPPER value bound, so error ≤ one cell width (hi−lo)/G by
    * construction — vs [[equiDepthHist]]'s exact ranks which need a
    * global two-phase rank, this needs ONE pass plus a G-row window.
    * All arithmetic integer: cell = (x−lo)·G div (hi−lo+1), bounds
    * back out the same way, comparisons cross-multiplied in ppm. */
  def gridQuantiles(df: DataFrame, value: Column, grid: Int,
                    pPpm: Seq[Long]): DataFrame = {
    val rows = df.select(value.cast("long").as("x"))
    val bounds = rows.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val cells = rows.crossJoin(bounds)
      .select(expr(s"(x - lo) * $grid div (hi - lo + 1)").as("cell"),
        col("lo"), col("hi"))
      .groupBy("cell", "lo", "hi").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
    cum.select(col("cell"), col("lo"), col("hi"), col("cum"), col("total"),
        explode(array(pPpm.map(lit): _*)).as("p_ppm"))
      .filter(expr("cast(cum as decimal(38,0)) * 1000000 >= " +
        "p_ppm * cast(total as decimal(38,0))"))
      .groupBy("p_ppm")
      .agg(min(col("cell")).as("cell"), first(col("lo")).as("lo"),
        first(col("hi")).as("hi"))
      .select(col("p_ppm").cast("long").as("p_ppm"),
        col("cell").cast("long").as("cell"),
        expr(s"cast(lo + ((cell + 1) * (hi - lo + 1)) div $grid - 1 " +
          "as long)").as("est_hi"))
      .orderBy("p_ppm")
  }

  /** DuckDB twin of [[gridQuantiles]] over `lineitem` price cents. */
  def gridQuantilesOracleSql(grid: Int, pPpm: Seq[Long]): String =
    s"""
    |WITH r AS (
    |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
    |    AS x
    |  FROM lineitem),
    |b AS (SELECT min(x) AS lo, max(x) AS hi FROM r),
    |cells AS (
    |  SELECT (x - lo) * $grid // (hi - lo + 1) AS cell, lo, hi,
    |    count(*) AS cnt
    |  FROM r CROSS JOIN b GROUP BY 1, 2, 3),
    |c AS (
    |  SELECT cell, lo, hi,
    |    sum(cnt) OVER (ORDER BY cell ROWS UNBOUNDED PRECEDING) AS cum,
    |    sum(cnt) OVER () AS total
    |  FROM cells),
    |p AS (SELECT unnest([${pPpm.mkString(", ")}]) AS p_ppm),
    |f AS (
    |  SELECT p.p_ppm, min(c.cell) AS cell,
    |    any_value(c.lo) AS lo, any_value(c.hi) AS hi
    |  FROM c CROSS JOIN p
    |  WHERE c.cum * 1000000 >= p.p_ppm * c.total
    |  GROUP BY p.p_ppm)
    |SELECT CAST(p_ppm AS BIGINT) AS p_ppm, CAST(cell AS BIGINT) AS cell,
    |  CAST(lo + ((cell + 1) * (hi - lo + 1)) // $grid - 1 AS BIGINT)
    |    AS est_hi
    |FROM f ORDER BY p_ppm
    |""".stripMargin.trim

  /** Metric stability via deterministic half-sampling: recompute the
    * mean under B independent hash half-samples and read the spread
    * — the poor man's bootstrap CI, with every "draw" a pure
    * function of the row key (reproducible, engine-portable, no
    * rand()). A metric whose half-sample means scatter wildly is
    * noise; one that holds is load-bearing. One pass: each row
    * explodes into its B (replicate, in/out) memberships (fixed
    * fan-out B — not data-dependent), one hash agg per replicate.
    * All-integer means (cents, truncating division — sums here are
    * non-negative so both engines agree). */
  def resampleStability(df: DataFrame, key: Column, amount: Column,
                        b: Int = 8): DataFrame = {
    require(b >= 2 && b <= graft.functions.Hashing.Perms.length,
      s"b must be in [2, ${graft.functions.Hashing.Perms.length}]")
    val members = array((0 until b).map(i => struct(lit(i).as("b"),
      graft.functions.Hashing.permBucket(key, i, 2).as("m"))): _*)
    df.select(amount.cast("decimal(14,2)").as("amt"),
        explode(members).as("s"))
      .filter(col("s.m") === 0)
      .groupBy(col("s.b").cast("long").as("replicate"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        expr("cast(sum(amt) * 100 as decimal(38,0))").as("__c"))
      .select(col("replicate"), col("n_rows"),
        expr("cast(__c div n_rows as long)").as("mean_cents"))
      .orderBy("replicate")
  }

  /** DuckDB twin of [[resampleStability]] over `orders`. */
  def resampleStabilityOracleSql(b: Int = 8): String = {
    val packs = (0 until b).map(i => s"struct_pack(b := $i, m := " +
      s"${graft.functions.Hashing.permBucketSql("o_orderkey", i, 2)})")
      .mkString(", ")
    s"""
    |WITH r AS (
    |  SELECT CAST(o_totalprice AS DECIMAL(14,2)) AS amt,
    |    unnest([$packs]) AS s
    |  FROM orders)
    |SELECT CAST(s.b AS BIGINT) AS replicate,
    |  CAST(count(*) AS BIGINT) AS n_rows,
    |  CAST(CAST(sum(amt) * 100 AS HUGEINT) // count(*) AS BIGINT)
    |    AS mean_cents
    |FROM r WHERE s.m = 0
    |GROUP BY 1 ORDER BY replicate
    |""".stripMargin.trim
  }

  /** A/B comparison audit with a sqrt-free significance read: users
    * hash into two arms (deterministic — re-runs reproduce the
    * assignment), per-arm conversion is "did the user ever emit
    * `convType`", and instead of the z statistic (which needs a
    * square root) the audit publishes z²·100 against the χ²(1)
    * 95% threshold 384 (= 3.84·100): z² = diff² · nA·nB/(nA+nB) /
    * (p̄(1−p̄)) — every factor an exact integer in ppm space, folded
    * in decimal(38,0) (diff_ppm²·nA·nB reaches 10³⁴ at 10¹⁰ users).
    * Run on a hash split with no real treatment this is an A/A
    * test: 'significant' should be 0 — the standard health check
    * that the assignment hash isn't correlated with the metric.
    * Degenerate rates (p̄ ∈ {0, 1} — nothing or everything
    * converts) publish z² = 0 instead of dividing by zero.
    * One projection + one 2-row hash agg. */
  def abTestAudit(df: DataFrame, unit: Column, amount: Column,
                  thresholdCents: Long): DataFrame = {
    val units = df.select(
      graft.functions.Hashing.permBucket(unit, 2, 2).as("arm"),
      when((amount.cast("decimal(14,2)") * 100).cast("long") >
        thresholdCents, 1L).otherwise(0L).as("conv"))
    val arms = units.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val wide = arms.agg(
      sum(when(col("arm") === 0, col("n"))).cast("long").as("n_a"),
      sum(when(col("arm") === 0, col("c"))).cast("long").as("conv_a"),
      sum(when(col("arm") === 1, col("n"))).cast("long").as("n_b"),
      sum(when(col("arm") === 1, col("c"))).cast("long").as("conv_b"))
    wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_a * 1000000 div n_a").as("rate_a_ppm"),
        expr("conv_b * 1000000 div n_b").as("rate_b_ppm"),
        expr("(conv_a + conv_b) * 1000000 div (n_a + n_b)").as("__pb"))
      .withColumn("diff_ppm",
        (col("rate_a_ppm") - col("rate_b_ppm")).cast("long"))
      .withColumn("z2_x100",
        expr("cast(case when __pb <= 0 or __pb >= 1000000 then 0 " +
          "else (cast(diff_ppm as decimal(38,0)) * diff_ppm * n_a " +
          "* n_b * 100) div ((cast(n_a as decimal(38,0)) + n_b) * __pb " +
          "* (1000000 - __pb)) end as long)"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        col("rate_a_ppm").cast("long").as("rate_a_ppm"),
        col("rate_b_ppm").cast("long").as("rate_b_ppm"),
        col("diff_ppm"), col("z2_x100"),
        when(col("z2_x100") >= 384L, 1L).otherwise(0L)
          .as("significant"))
  }

  /** DuckDB twin of [[abTestAudit]] over `orders` with an
    * order-value conversion threshold (cents). */
  def abTestAuditOracleSql(thresholdCents: Long): String = {
    val arm = graft.functions.Hashing.permBucketSql("o_orderkey", 2, 2)
    s"""
    |WITH u AS (
    |  SELECT $arm AS arm,
    |    CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
    |      AS BIGINT) > $thresholdCents THEN 1 ELSE 0 END AS conv
    |  FROM orders),
    |w AS (
    |  SELECT
    |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
    |    sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS conv_a,
    |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
    |    sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS conv_b
    |  FROM u),
    |r AS (
    |  SELECT *, conv_a * 1000000 // n_a AS rate_a_ppm,
    |    conv_b * 1000000 // n_b AS rate_b_ppm,
    |    (conv_a + conv_b) * 1000000 // (n_a + n_b) AS pb
    |  FROM w),
    |z AS (
    |  SELECT *, rate_a_ppm - rate_b_ppm AS diff_ppm,
    |    CAST(CASE WHEN pb <= 0 OR pb >= 1000000 THEN 0 ELSE
    |      (CAST(rate_a_ppm - rate_b_ppm AS HUGEINT)
    |        * (rate_a_ppm - rate_b_ppm) * n_a * n_b * 100)
    |      // ((CAST(n_a AS HUGEINT) + n_b) * pb * (1000000 - pb))
    |      END AS BIGINT) AS z2_x100
    |  FROM r)
    |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
    |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
    |  CAST(rate_a_ppm AS BIGINT) AS rate_a_ppm,
    |  CAST(rate_b_ppm AS BIGINT) AS rate_b_ppm,
    |  CAST(diff_ppm AS BIGINT) AS diff_ppm, z2_x100,
    |  CAST(CASE WHEN z2_x100 >= 384 THEN 1 ELSE 0 END AS BIGINT)
    |    AS significant
    |FROM z
    |""".stripMargin.trim
  }

  /** Out-of-order arrival audit: per user, how late does each event
    * arrive relative to the latest event time already seen in that
    * user's ARRIVAL order (event_id) — the disorder histogram that
    * sizes a streaming watermark (`withWatermark("ts", X)`): pick X
    * at the bucket that covers the tail you're willing to wait for;
    * everything later is the data a streaming job would drop and a
    * batch backfill must reconcile. Per-user on purpose: that is the
    * unit Spark keys state by, and it keeps the running max a plain
    * partitioned window (no global sequential scan). Fixed CASE
    * buckets → one hash agg; output ≤ 6 rows at any scale. */
  def lateDataAudit(events: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lateUs = greatest(coalesce(
      max(unix_micros(col("ts").cast("timestamp"))).over(wPrev) -
        unix_micros(col("ts").cast("timestamp")), lit(0L)), lit(0L))
    events.select(lateUs.as("late_us"))
      .select(when(col("late_us") === 0, "0_in_order")
        .when(col("late_us") <= 1000000L, "1_upto_1s")
        .when(col("late_us") <= 10000000L, "2_upto_10s")
        .when(col("late_us") <= 60000000L, "3_upto_1m")
        .when(col("late_us") <= 600000000L, "4_upto_10m")
        .otherwise("5_over_10m").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("__tot", sum(col("n")).over(Window.partitionBy()))
      .select(col("bucket"), col("n").cast("long").as("n"),
        // decimal(38,0) fold: a bucket past ~9.2e12 rows would wrap
        // bare long `n * 1000000`; the widened product cannot.
        expr("cast(n as decimal(38,0)) * 1000000 div __tot")
          .cast("long").as("share_ppm"))
      .orderBy("bucket")
  }

  /** DuckDB twin of [[lateDataAudit]] over `events`. */
  val lateDataAuditOracleSql: String =
    """
    |WITH l AS (
    |  SELECT greatest(coalesce(
    |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    |    - epoch_us(ts), 0), 0) AS late_us
    |  FROM events),
    |b AS (
    |  SELECT CASE
    |    WHEN late_us = 0 THEN '0_in_order'
    |    WHEN late_us <= 1000000 THEN '1_upto_1s'
    |    WHEN late_us <= 10000000 THEN '2_upto_10s'
    |    WHEN late_us <= 60000000 THEN '3_upto_1m'
    |    WHEN late_us <= 600000000 THEN '4_upto_10m'
    |    ELSE '5_over_10m' END AS bucket
    |  FROM l),
    |c AS (
    |  SELECT bucket, count(*) AS n, sum(count(*)) OVER () AS tot
    |  FROM b GROUP BY bucket)
    |SELECT bucket, CAST(n AS BIGINT) AS n,
    |  CAST(CAST(n AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_ppm
    |FROM c ORDER BY bucket
    |""".stripMargin.trim

  /** Append-algebra twin of [[tableChecksum]]: because the
    * fingerprint is a SUM mod M, an append updates it in O(delta) —
    * new = (old + checksum(delta)) mod M — with no touch of the
    * base table. This query PROVES that identity on a real split:
    * it fingerprints the base slice and the delta slice separately,
    * combines them in the algebra, fingerprints the whole table the
    * hard way, and publishes both plus the match flag (always 1 —
    * the oracle replays all three paths). The operational point at
    * 100 TB: a daily reconciliation re-hashes the DAY, not the
    * decade. */
  def checksumIncremental(base: DataFrame, delta: DataFrame,
                          full: DataFrame,
                          cols: DataFrame => Seq[Column]): DataFrame = {
    val cBase = tableChecksum(base, cols(base))
      .select(col("n_rows").as("n_base"), col("checksum").as("c_base"))
    val cDelta = tableChecksum(delta, cols(delta))
      .select(col("n_rows").as("n_delta"), col("checksum").as("c_delta"))
    val cFull = tableChecksum(full, cols(full))
      .select(col("n_rows").as("n_full"), col("checksum").as("c_full"))
    cBase.crossJoin(cDelta).crossJoin(cFull)
      .select((col("n_base") + col("n_delta")).cast("long")
          .as("n_combined"),
        expr("(c_base + c_delta) % 2305843009213693951")
          .cast("long").as("checksum_combined"),
        col("n_full"), col("c_full").as("checksum_full"))
      .withColumn("matches",
        when(col("checksum_combined") === col("checksum_full") &&
          col("n_combined") === col("n_full"), 1L).otherwise(0L))
  }

  /** DuckDB twin of [[checksumIncremental]] over `lineitem` split at
    * `splitKey` on l_orderkey. */
  def checksumIncrementalOracleSql(splitKey: Long,
                                   colExprs: Seq[String]): String = {
    val rowStr = s"concat_ws('|', ${colExprs.mkString(", ")})"
    val h = graft.functions.Hashing.polyHashSql(rowStr)
    s"""
    |WITH base AS (
    |  SELECT count(*) AS n, sum(h) % 2305843009213693951 AS c FROM (
    |    SELECT $h AS h FROM lineitem WHERE l_orderkey < $splitKey)),
    |delta AS (
    |  SELECT count(*) AS n, sum(h) % 2305843009213693951 AS c FROM (
    |    SELECT $h AS h FROM lineitem WHERE l_orderkey >= $splitKey)),
    |f AS (
    |  SELECT count(*) AS n, sum(h) % 2305843009213693951 AS c FROM (
    |    SELECT $h AS h FROM lineitem))
    |SELECT CAST(base.n + delta.n AS BIGINT) AS n_combined,
    |  CAST((base.c + delta.c) % 2305843009213693951 AS BIGINT)
    |    AS checksum_combined,
    |  CAST(f.n AS BIGINT) AS n_full,
    |  CAST(f.c AS BIGINT) AS checksum_full,
    |  CAST(CASE WHEN (base.c + delta.c) % 2305843009213693951 = f.c
    |    AND base.n + delta.n = f.n THEN 1 ELSE 0 END AS BIGINT)
    |    AS matches
    |FROM base, delta, f
    |""".stripMargin.trim
  }

  /** Rank movers: the parts whose revenue RANK moved most between
    * two periods — the "what changed" view a raw revenue delta
    * hides (a 10% move in the head is news; in the tail it's noise;
    * rank deltas normalize for position). Both period ranks come
    * from [[globalCumsum]]'s two-phase machinery (descending order
    * via the negated revenue column — no single-task global sort at
    * any scale), the join is part-keyed, and the output is a
    * k-bounded TakeOrdered by |Δrank|. Parts absent from a period
    * don't rank there and are excluded (inner join) — entering/
    * leaving the catalog is a different report. */
  def rankMovers(lineitem: DataFrame, y1: Int, y2: Int,
                 k: Int): DataFrame = {
    def periodRank(year: Int, out: String, rk: String): DataFrame = {
      val rev = lineitem
        .filter(expr(s"year(l_shipdate) = $year"))
        .groupBy(col("l_partkey").cast("long").as("part_id"))
        .agg((sum(col("l_extendedprice").cast("decimal(14,2)")) * 100)
          .cast("long").as(out))
      globalCumsum(rev, Seq((-col(out)).as("__neg"), col("part_id")),
        lit(1L), rk).drop("__neg")
    }
    periodRank(y1, "rev1_cents", "rank1")
      .join(periodRank(y2, "rev2_cents", "rank2"), Seq("part_id"))
      .select(col("part_id"), col("rev1_cents"), col("rev2_cents"),
        col("rank1"), col("rank2"),
        (col("rank1") - col("rank2")).cast("long").as("rank_delta"))
      .orderBy(abs(col("rank_delta")).desc, col("part_id"))
      .limit(k)
  }

  /** DuckDB twin of [[rankMovers]] over `lineitem`. */
  def rankMoversOracleSql(y1: Int, y2: Int, k: Int): String = {
    def p(year: Int, out: String, rk: String) =
      s"""(SELECT CAST(l_partkey AS BIGINT) AS part_id,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100
        |    AS BIGINT) AS $out,
        |  CAST(row_number() OVER (ORDER BY
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100
        |      AS BIGINT) DESC, l_partkey) AS BIGINT) AS $rk
        |FROM lineitem WHERE year(l_shipdate) = $year
        |GROUP BY l_partkey)""".stripMargin
    s"""
    |SELECT a.part_id, a.rev1_cents, b.rev2_cents, a.rank1, b.rank2,
    |  CAST(a.rank1 - b.rank2 AS BIGINT) AS rank_delta
    |FROM ${p(y1, "rev1_cents", "rank1")} a
    |JOIN ${p(y2, "rev2_cents", "rank2")} b USING (part_id)
    |ORDER BY abs(a.rank1 - b.rank2) DESC, part_id LIMIT $k
    |""".stripMargin.trim
  }

  /** Herfindahl-Hirschman concentration bands: per part, the HHI of
    * its suppliers' revenue shares (Σ share², the antitrust /
    * supply-risk concentration number — 10⁶ ppm = single-source,
    * 10⁶/n = perfectly split across n), then a histogram of parts by
    * HHI band — the portfolio view "how much of my catalog is
    * single-sourced" that [[giniConcentration]]'s global inequality
    * number doesn't give. Shares are integer ppm (truncating
    * division), squares fold in decimal(38,0) (share² alone is
    * 10¹², times 10⁵ suppliers per key would wrap a long), and the
    * published histogram is ≤ 10 rows at any scale. Two keyed hash
    * aggs + the band fold. */
  def hhiBands(lineitem: DataFrame): DataFrame = {
    val ps = lineitem.groupBy(col("l_partkey").as("part_id"),
        col("l_suppkey").as("supp_id"))
      .agg((sum(col("l_extendedprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("rev"))
    val hhi = ps
      .withColumn("part_rev",
        sum(col("rev")).over(Window.partitionBy(col("part_id"))))
      .select(col("part_id"),
        expr("rev * 1000000 div part_rev").as("share_ppm"))
      .groupBy("part_id")
      .agg(expr("cast(sum(cast(share_ppm as decimal(38,0)) " +
        "* share_ppm) div 1000000 as long)").as("hhi_ppm"))
    hhi.groupBy(expr("hhi_ppm div 100000").cast("long").as("band"))
      .agg(count(lit(1)).cast("long").as("n_parts"),
        min(col("hhi_ppm")).cast("long").as("min_hhi_ppm"),
        max(col("hhi_ppm")).cast("long").as("max_hhi_ppm"))
      .orderBy("band")
  }

  /** DuckDB twin of [[hhiBands]] over `lineitem`. */
  val hhiBandsOracleSql: String =
    """
    |WITH ps AS (
    |  SELECT l_partkey AS part_id, l_suppkey AS supp_id,
    |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100
    |      AS BIGINT) AS rev
    |  FROM lineitem GROUP BY 1, 2),
    |sh AS (
    |  SELECT part_id,
    |    rev * 1000000 // sum(rev) OVER (PARTITION BY part_id)
    |      AS share_ppm
    |  FROM ps),
    |h AS (
    |  SELECT part_id,
    |    CAST(sum(CAST(share_ppm AS HUGEINT) * share_ppm) // 1000000
    |      AS BIGINT) AS hhi_ppm
    |  FROM sh GROUP BY part_id)
    |SELECT CAST(hhi_ppm // 100000 AS BIGINT) AS band,
    |  CAST(count(*) AS BIGINT) AS n_parts,
    |  CAST(min(hhi_ppm) AS BIGINT) AS min_hhi_ppm,
    |  CAST(max(hhi_ppm) AS BIGINT) AS max_hhi_ppm
    |FROM h GROUP BY 1 ORDER BY band
    |""".stripMargin.trim

  /** Theil-Sen robust trend (Theil 1950 / Sen 1968 — public): the
    * MEDIAN of all pairwise slopes of the daily-revenue series — the
    * trend line one contaminated month cannot drag (OLS breaks at a
    * single bad batch; the pairwise-slope median has a 29% breakdown
    * point). Slopes are exact integer ppm cents-per-day
    * ((Δrev·10⁶) div Δday, truncating — the declared semantics), the
    * median picks ranks ⌈p/2⌉ and ⌊p/2⌋+1 deterministically
    * (tie-broken by the day pair), and everything runs on the
    * |buckets|-bounded spine (bucketDays sets the granularity —
    * the declared query uses weekly buckets, ~65k pairs for a
    * decade; daily is ~3M and measured ~6 s): the pair count is
    * CONSTANT in corpus size, so the one full-data pass is the
    * first hash agg. Slope unit is cents per BUCKET. */
  def theilSenTrend(orders: DataFrame, dateCol: Column,
                    amount: Column, bucketDays: Int = 1): DataFrame = {
    val daily = orders
      .select((datediff(dateCol, lit("1990-01-01").cast("date"))
          .cast("long") / bucketDays).cast("long").as("day"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("day")
      .agg((sum(col("amt")) * 100).cast("long").as("rev"))
    val a = daily.select(col("day").as("d1"), col("rev").as("r1"))
    val b = daily.select(col("day").as("d2"), col("rev").as("r2"))
    val slopes = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("cast(case when r2 >= r1 " +
          "then (cast(r2 as decimal(38,0)) - r1) * 1000000 div (d2 - d1) " +
          "else -(((cast(r1 as decimal(38,0)) - r2) * 1000000) " +
          "div (d2 - d1)) end as long)").as("slope_ppm"))
    // pin once: the slope table feeds both the rank and the count;
    // unpinned, the |days|²/2 pair enumeration evaluates twice
    val pinned = Pin.pin(slopes)
    val ranked = globalCumsum(pinned,
        Seq(col("slope_ppm"), col("d1"), col("d2")), lit(1L), "rk")
      .crossJoin(pinned.agg(count(lit(1)).as("p")))
    ranked
      .filter(col("rk") === expr("(p + 1) div 2") ||
        col("rk") === expr("p div 2 + 1"))
      .agg(first(col("p")).cast("long").as("n_pairs"),
        expr("cast(case when sum(slope_ppm) >= 0 " +
          "then sum(slope_ppm) div count(1) " +
          "else -((-sum(slope_ppm)) div count(1)) end as long)")
          .as("slope_cents_per_day_ppm"))
  }

  /** DuckDB twin of [[theilSenTrend]] over `orders` at the weekly
    * (bucketDays = 7) granularity the declared query uses. */
  val theilSenOracleSql: String =
    """
    |WITH d AS (
    |  SELECT CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
    |      // 7 AS BIGINT) AS day,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev
    |  FROM orders GROUP BY 1),
    |s AS (
    |  SELECT a.day AS d1, b.day AS d2,
    |    CAST(CASE WHEN b.rev >= a.rev
    |      THEN (CAST(b.rev AS HUGEINT) - a.rev) * 1000000
    |        // (b.day - a.day)
    |      ELSE -(((CAST(a.rev AS HUGEINT) - b.rev) * 1000000)
    |        // (b.day - a.day)) END AS BIGINT) AS slope_ppm
    |  FROM d a JOIN d b ON a.day < b.day),
    |r AS (
    |  SELECT slope_ppm,
    |    row_number() OVER (ORDER BY slope_ppm, d1, d2) AS rk,
    |    count(*) OVER () AS p
    |  FROM s)
    |SELECT CAST(any_value(p) AS BIGINT) AS n_pairs,
    |  CAST(CASE WHEN sum(slope_ppm) >= 0
    |    THEN sum(slope_ppm) // count(*)
    |    ELSE -((-sum(slope_ppm)) // count(*)) END AS BIGINT)
    |    AS slope_cents_per_day_ppm
    |FROM r WHERE rk = (p + 1) // 2 OR rk = p // 2 + 1
    |""".stripMargin.trim

  /** STL-lite decomposition on the weekly revenue spine: trend =
    * centered 13-week moving average (ROWS frame over the DENSE
    * weekly spine — gap weeks are zero-filled first, the
    * [[calendarFill]] lesson, so the window always spans calendar
    * time); residual = rev − trend; seasonal index = the mean
    * residual per week-of-year (how far a given calendar week
    * habitually sits from trend). The "is this dip seasonal or real"
    * split behind every holiday-adjusted report, with none of STL's
    * loess — integer sums and truncating divisions only, identical
    * on both engines (revenues non-negative; residuals may be
    * negative but are only SUMMED per week-of-year then divided
    * sign-safely). Everything past the first hash agg runs on the
    * |weeks|-bounded spine. */
  def seasonalSplit(orders: DataFrame, dateCol: Column,
                    amount: Column): DataFrame = {
    val weekly = orders
      .select((datediff(dateCol, lit("1990-01-06").cast("date"))
          .cast("long") / 7).cast("long").as("week"),
        amount.cast("decimal(14,2)").as("amt"))
      .groupBy("week")
      .agg((sum(col("amt")) * 100).cast("long").as("rev"))
    val span = weekly.agg(min(col("week")).as("w0"), max(col("week")).as("w1"))
    val spine = span.select(explode(expr("sequence(w0, w1)")).as("week"))
      .join(weekly, Seq("week"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
    spine
      .withColumn("trend",
        expr("cast(sum(rev) over (order by week rows between 6 " +
          "preceding and 6 following) div count(rev) over (order by " +
          "week rows between 6 preceding and 6 following) as bigint)"))
      .withColumn("resid", col("rev") - col("trend"))
      .withColumn("woy", pmod(col("week"), lit(52L)))
      .withColumn("__sr",
        sum(col("resid")).over(Window.partitionBy(col("woy"))))
      .withColumn("__nr",
        count(lit(1)).over(Window.partitionBy(col("woy"))))
      .select(col("week"), col("rev"), col("trend"),
        col("resid").cast("long").as("resid"),
        col("woy").cast("long").as("week_of_year"),
        expr("cast(case when __sr >= 0 then __sr div __nr " +
          "else -((-__sr) div __nr) end as long)").as("seasonal_cents"))
      .orderBy("week")
  }

  /** DuckDB twin of [[seasonalSplit]] over `orders`. */
  val seasonalSplitOracleSql: String =
    """
    |WITH w AS (
    |  SELECT CAST(date_diff('day', DATE '1990-01-06', o_orderdate)
    |      // 7 AS BIGINT) AS week,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev
    |  FROM orders GROUP BY 1),
    |span AS (SELECT min(week) AS w0, max(week) AS w1 FROM w),
    |spine AS (
    |  SELECT CAST(unnest(generate_series(span.w0, span.w1)) AS BIGINT)
    |    AS week FROM span),
    |d AS (
    |  SELECT spine.week, coalesce(w.rev, 0) AS rev
    |  FROM spine LEFT JOIN w ON w.week = spine.week),
    |t AS (
    |  SELECT week, rev,
    |    CAST(sum(rev) OVER win // count(rev) OVER win AS BIGINT)
    |      AS trend
    |  FROM d
    |  WINDOW win AS (ORDER BY week
    |    ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
    |r AS (
    |  SELECT week, rev, trend, rev - trend AS resid,
    |    ((week % 52) + 52) % 52 AS woy
    |  FROM t),
    |s AS (
    |  SELECT *, sum(resid) OVER (PARTITION BY woy) AS sr,
    |    count(*) OVER (PARTITION BY woy) AS nr
    |  FROM r)
    |SELECT week, rev, trend, CAST(resid AS BIGINT) AS resid,
    |  CAST(woy AS BIGINT) AS week_of_year,
    |  CAST(CASE WHEN sr >= 0 THEN sr // nr
    |    ELSE -((-sr) // nr) END AS BIGINT) AS seasonal_cents
    |FROM s ORDER BY week
    |""".stripMargin.trim

  /** DuckDB twin of [[cusumDrift]] over `orders`. */
  val cusumDriftOracleSql: String =
    """
    |WITH d AS (
    |  SELECT o_orderdate AS date_value,
    |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
    |      AS rev_cents
    |  FROM orders GROUP BY 1),
    |m AS (
    |  SELECT date_value, rev_cents,
    |    CAST(CASE WHEN sum(rev_cents) OVER () >= 0
    |      THEN sum(rev_cents) OVER () // count(*) OVER ()
    |      ELSE -((-sum(rev_cents) OVER ()) // count(*) OVER ())
    |      END AS BIGINT) AS mu
    |  FROM d),
    |p AS (
    |  SELECT date_value, rev_cents, mu,
    |    sum(rev_cents - mu - (CASE WHEN mu >= 0 THEN mu // 20
    |      ELSE -((-mu) // 20) END))
    |      OVER (ORDER BY date_value ROWS UNBOUNDED PRECEDING) AS pp
    |  FROM m),
    |c AS (
    |  SELECT date_value, rev_cents, mu,
    |    pp - least(min(pp)
    |      OVER (ORDER BY date_value ROWS UNBOUNDED PRECEDING),
    |      CAST(0 AS HUGEINT)) AS cusum
    |  FROM p)
    |SELECT date_value, rev_cents, CAST(cusum AS BIGINT) AS cusum_cents,
    |  CAST(CASE WHEN cusum > mu THEN 1 ELSE 0 END AS BIGINT) AS alarm
    |FROM c ORDER BY date_value
    |""".stripMargin.trim
}
