package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization over an event stream (extension surface, SURVEY
  * §7.6): a session is a run of events per user with gaps below a
  * threshold. Batch formulation: lag-gap flag → running sum = session
  * number → aggregate. One shuffle on user_id (both windows and the
  * final groupBy share the partitioning, so Catalyst plans a single
  * exchange).
  *
  * Gap arithmetic is done in exact integer microseconds
  * (`unix_micros` / DuckDB `epoch_us`) so the oracle agrees.
  */
object Sessions {

  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapSeconds: Long, tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol).asc +: tiebreak.map(col(_).asc))
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val prevTs = lag(micros, 1).over(w)
    val newSession = when(prevTs.isNull ||
      micros - prevTs > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("__new", newSession)
      .withColumn("session_num",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new")
  }

  /** Per-session rollup used by the declared query. */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
                   valueCol: String, gapSeconds: Long,
                   tiebreak: Seq[String] = Nil): DataFrame =
    sessionize(events, userCol, tsCol, gapSeconds, tiebreak)
      .groupBy(col(userCol), col("session_num"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        sum(col(valueCol).cast("decimal(12,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))

  /** Shared DuckDB CTE chain `flagged, sess` for gap-rule
    * sessionization over `events` — the single source every
    * session-derived oracle composes (the [[graft.ext.Dedup]]
    * `minhashCtes` discipline), so a gap/tiebreak change cannot
    * silently decouple one oracle from [[sessionize]]. `carry` lists
    * extra event columns the downstream query needs. */
  private def sessionCtesSql(gapSeconds: Long, carry: String): String =
    s"""flagged AS (
    |  SELECT user_id, event_id, ts$carry,
    |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
    |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${gapSeconds * 1000000L}
    |         THEN 1 ELSE 0 END AS new_sess
    |  FROM events
    |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    |sess AS (
    |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
    |    ROWS UNBOUNDED PRECEDING) AS session_num
    |  FROM flagged)""".stripMargin

  def sessionStatsOracleSql(gapSeconds: Long): String =
    s"""
    |WITH ${sessionCtesSql(gapSeconds, ", value")}
    |SELECT user_id, CAST(session_num AS BIGINT) AS session_num,
    |  count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end,
    |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
    |FROM sess GROUP BY 1, 2
    |ORDER BY user_id, session_num
    |""".stripMargin.trim

  /** Ordered funnel: for each user, the FIRST time they completed
    * each stage strictly after completing the previous one — the
    * sequential-conversion analysis (view → click → purchase) every
    * event warehouse ships. Emits one row per user who entered the
    * funnel, stage timestamps `t1..tN`, null from the first stage
    * they never reached.
    *
    * Shape: one user-keyed aggregation per stage plus user-keyed
    * joins — no window over the whole event stream, no self theta
    * join; each stage's frame shrinks monotonically (only users still
    * in the funnel). All shuffles share the user key, so AQE plans
    * one exchange per stage at most. */
  def funnel(events: DataFrame, user: Column, ts: Column, typ: Column,
             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(user.as("user_id"), ts.as("__ts"),
      typ.as("__tp"))
    val s1 = e.filter(col("__tp") === stages.head)
      .groupBy(col("user_id")).agg(min(col("__ts")).as("t1"))
    var frames = List(s1)
    stages.tail.zipWithIndex.foreach { case (st, i) =>
      val n = i + 2
      val next = e.filter(col("__tp") === st)
        .join(frames.head.select(col("user_id"), col(s"t${n - 1}")),
          Seq("user_id"))
        .filter(col("__ts") > col(s"t${n - 1}"))
        .groupBy(col("user_id")).agg(min(col("__ts")).as(s"t$n"))
      frames = next :: frames
    }
    frames.reverse.reduce((acc, step) =>
      acc.join(step, Seq("user_id"), "left"))
  }

  /** DuckDB twin of [[funnel]] over `events` (stage columns t1..tN). */
  def funnelOracleSql(stages: Seq[String]): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      val n = i + 1
      if (n == 1)
        s"s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
          s"WHERE event_type = '$st' GROUP BY 1)"
      else
        s"s$n AS (SELECT e.user_id, min(e.ts) AS t$n FROM events e " +
          s"JOIN s${n - 1} p ON e.user_id = p.user_id " +
          s"WHERE e.event_type = '$st' AND e.ts > p.t${n - 1} GROUP BY 1)"
    }
    val joins = (2 to stages.length)
      .map(n => s"LEFT JOIN s$n USING (user_id)").mkString(" ")
    val cols = (1 to stages.length).map(n => s"t$n").mkString(", ")
    s"""
    |WITH ${ctes.mkString(",\n|")}
    |SELECT user_id, $cols FROM s1 $joins ORDER BY user_id
    |""".stripMargin.trim
  }

  /** Retention cohorts: users grouped by first-seen day, distinct
    * active users per (cohort, day offset) — the classic retention
    * triangle. Two user-keyed shuffles (first-seen aggregation, then
    * the cohort/offset count); the distinct-user count collapses
    * map-side to (cohort, offset, user) before shuffling. */
  def retentionCohort(events: DataFrame, user: Column,
                      ts: Column): DataFrame = {
    val e = events.select(user.as("user_id"), to_date(ts).as("__day"))
    val first = e.groupBy(col("user_id"))
      .agg(min(col("__day")).as("cohort_day"))
    e.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** DuckDB twin of [[retentionCohort]] over `events`. */
  val retentionCohortOracleSql: String =
    """
    |WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
    |SELECT f.cohort_day,
    |  CAST(datediff('day', f.cohort_day, d.day) AS BIGINT) AS day_offset,
    |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
    |FROM d JOIN f ON d.user_id = f.user_id
    |GROUP BY 1, 2 ORDER BY 1, 2
    |""".stripMargin.trim

  /** Tumbling event-time window aggregate (Spark's `window()`
    * bucketing): per `minutes`-wide bucket, event count and
    * decimal-pinned value total. A stateless bucket
    * projection + ONE hash agg (map-side combined) — the best
    * possible shape; time is never a skew key because buckets are
    * uniform by construction. */
  def tumblingAgg(events: DataFrame, tsCol: String, valueCol: String,
                  minutes: Int): DataFrame =
    events
      .groupBy(window(col(tsCol), s"$minutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(12,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_events"),
        col("total_value"))

  /** DuckDB twin of [[tumblingAgg]] over `events`. */
  def tumblingAggOracleSql(minutes: Int): String =
    s"""
    |SELECT time_bucket(INTERVAL '$minutes minutes', ts) AS window_start,
    |  time_bucket(INTERVAL '$minutes minutes', ts)
    |    + INTERVAL '$minutes minutes' AS window_end,
    |  CAST(count(*) AS BIGINT) AS n_events,
    |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2))
    |    AS DOUBLE) AS total_value
    |FROM events GROUP BY 1, 2 ORDER BY 1
    |""".stripMargin.trim

  /** Sliding event-time window aggregate (`duration = 2 × slide`, so
    * each event lands in exactly TWO windows — the half-open
    * [start, start+duration) contract makes that exact, boundaries
    * included). Spark's `window(ts, dur, slide)` plans this as a
    * 2-row generator per event then the same single hash agg as the
    * tumbling case — output rows ≈ 2× buckets, input pass stays
    * linear. */
  def slidingAgg(events: DataFrame, tsCol: String, valueCol: String,
                 slideMinutes: Int): DataFrame =
    events
      .groupBy(window(col(tsCol), s"${2 * slideMinutes} minutes",
        s"$slideMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(12,2)")).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_events"),
        col("total_value"))

  /** DuckDB twin of [[slidingAgg]]: every event belongs to the
    * windows starting at `tb` and `tb − slide`, where `tb` is its
    * slide-aligned bucket. */
  def slidingAggOracleSql(slideMinutes: Int): String =
    s"""
    |WITH expanded AS (
    |  SELECT value,
    |    time_bucket(INTERVAL '$slideMinutes minutes', ts)
    |      - o * (INTERVAL '$slideMinutes minutes') AS window_start
    |  FROM events
    |  CROSS JOIN (SELECT unnest([0, 1]) AS o))
    |SELECT window_start,
    |  window_start + INTERVAL '${2 * slideMinutes} minutes' AS window_end,
    |  CAST(count(*) AS BIGINT) AS n_events,
    |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2))
    |    AS DOUBLE) AS total_value
    |FROM expanded GROUP BY 1, 2 ORDER BY 1
    |""".stripMargin.trim

  /** Markov transition matrix over within-session event bigrams —
    * the user-journey model behind "what do users do after X":
    * consecutive (prev → next) event-type pairs inside a session
    * (the [[sessionize]] gap rule; a session break is NOT a
    * transition), counted corpus-wide, with the per-prev-type
    * transition probability as exact ppm (`n·10⁶ div rowtotal` — the
    * fixed-point-ratio discipline, no float division).
    *
    * Scale shape: the bigram extraction rides the same
    * (user, ts)-partitioned window as sessionization itself — one
    * shuffle on user_id shared with every other session op — and the
    * transition matrix is a |types|²-bounded aggregate, so the
    * per-prev window that turns counts into row probabilities runs
    * on a frame the size of the TYPE VOCABULARY, not the corpus. */
  def transitionCounts(events: DataFrame, gapSeconds: Long): DataFrame = {
    val sess = sessionize(events, "user_id", "ts", gapSeconds,
      tiebreak = Seq("event_id"))
    val w = Window.partitionBy(col("user_id"), col("session_num"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val counts = sess
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val rowW = Window.partitionBy(col("prev_type"))
    counts
      .withColumn("__row_total", sum(col("n_trans")).over(rowW))
      .withColumn("p_ppm", expr("(n_trans * 1000000) DIV __row_total"))
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        col("p_ppm"))
  }

  /** DuckDB twin of [[transitionCounts]] over `events`. */
  def transitionCountsOracleSql(gapSeconds: Long): String =
    s"""
    |WITH ${sessionCtesSql(gapSeconds, ", event_type")},
    |bigrams AS (
    |  SELECT lag(event_type) OVER (PARTITION BY user_id, session_num
    |      ORDER BY ts, event_id) AS prev_type,
    |    event_type AS next_type
    |  FROM sess),
    |counts AS (
    |  SELECT prev_type, next_type, count(*) AS n_trans
    |  FROM bigrams WHERE prev_type IS NOT NULL
    |  GROUP BY prev_type, next_type)
    |SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
    |  CAST((n_trans * 1000000) //
    |    sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
    |FROM counts
    |ORDER BY prev_type, next_type
    |""".stripMargin.trim

  /** Rolling anomaly flags over the per-(type, day) event volume: a
    * day is an outlier when its count deviates from the trailing
    * `baseDays`-observation mean by more than `sigmas` sample
    * standard deviations. The z-test is evaluated in cleared-
    * denominator EXACT integer form — with S = Σx, Q = Σx² over the
    * n trailing observations (current day excluded),
    *
    *   |x − S/n| > σ·sqrt((nQ − S²)/(n(n−1)))
    *     ⟺  (nx − S)²·(n−1) > σ²·n·(nQ − S²)
    *
    * so there is no sqrt, no float variance fold, and both engines
    * compute bit-identical flags. Products are folded in
    * decimal(38,0) (DuckDB: HUGEINT) so the cleared form cannot
    * overflow at any realistic daily volume (safe beyond 1e15
    * events/day). Days with fewer than 3 baseline observations are
    * never flagged. One shuffle for the daily rollup, one
    * type-keyed window — the window is ROWS-based (trailing
    * observations, not calendar days), which keeps the semantics
    * identical across engines when a type has gap days. */
  def zscoreOutliers(events: DataFrame, typ: Column, ts: Column,
                     baseDays: Int = 7, sigmas: Int = 2): DataFrame = {
    val daily = events
      .select(typ.as("event_type"), to_date(ts).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-baseDays, -1)
    val x = col("n_events").cast("decimal(38,0)")
    val withBase = daily
      .withColumn("n_base", count(lit(1)).over(w).cast("decimal(38,0)"))
      .withColumn("__s", coalesce(sum(x).over(w), lit(0).cast("decimal(38,0)")))
      .withColumn("__q", coalesce(sum(x * x).over(w), lit(0).cast("decimal(38,0)")))
    val dev = x * col("n_base") - col("__s")
    val lhs = dev * dev * (col("n_base") - 1)
    val rhs = lit(sigmas * sigmas) * col("n_base") *
      (col("n_base") * col("__q") - col("__s") * col("__s"))
    withBase.select(col("event_type"), col("day"),
      col("n_events").cast("long").as("n_events"),
      col("n_base").cast("long").as("n_base"),
      when(col("n_base") >= 3 && lhs > rhs, lit(1L)).otherwise(lit(0L))
        .as("is_outlier"))
  }

  /** DuckDB twin of [[zscoreOutliers]] over `events`. */
  def zscoreOutliersOracleSql(baseDays: Int = 7, sigmas: Int = 2): String =
    s"""
    |WITH daily AS (
    |  SELECT event_type, CAST(ts AS DATE) AS day,
    |    CAST(count(*) AS HUGEINT) AS x
    |  FROM events GROUP BY 1, 2),
    |b AS (
    |  SELECT event_type, day, x,
    |    count(*) OVER w AS n_base,
    |    coalesce(sum(x) OVER w, 0) AS s,
    |    coalesce(sum(x * x) OVER w, 0) AS q
    |  FROM daily
    |  WINDOW w AS (PARTITION BY event_type ORDER BY day
    |    ROWS BETWEEN $baseDays PRECEDING AND 1 PRECEDING))
    |SELECT event_type, day, CAST(x AS BIGINT) AS n_events,
    |  CAST(n_base AS BIGINT) AS n_base,
    |  CAST(CASE WHEN n_base >= 3
    |    AND (x * n_base - s) * (x * n_base - s) * (n_base - 1)
    |      > ${sigmas * sigmas} * n_base * (n_base * q - s * s)
    |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    |FROM b ORDER BY event_type, day
    |""".stripMargin.trim

  /** Exponentially-weighted moving average of the per-(type, day)
    * event volume — the smoothed trend line next to
    * [[zscoreOutliers]]'s spike flags. EWMA is a recursive fold, so
    * engines disagree on float rounding; this uses half-life = one
    * observation (α = 1/2), whose weights 2⁻ⁱ make every term a
    * DYADIC rational — but rather than trust doubles at all, the
    * trailing-8 window is folded in scaled INTEGER form:
    *
    *   num = Σ_{i=0..7} x_{t−i} · 2^(7−i)     den = Σ_{i present} 2^(7−i)
    *
    * and the published value is the exact ppm ratio num·10⁶ div den.
    * Rows-based window (8 fixed lags, one type-keyed shuffle), tail
    * truncation at 2⁻⁸ < 0.4% of mass. Bit-identical across engines,
    * and at 100 TB the state per key is 8 longs.
    *
    * COMPOSITION REQUIREMENT: the lags are over OBSERVED rows, so the
    * input series must be gap-free per type — on a sparse series the
    * trailing-8 window silently blends non-adjacent calendar days
    * (exactly the hazard [[Profiler.calendarFill]]'s scaladoc warns
    * against). A daily event rollup is dense whenever every type
    * fires every day; otherwise compose with [[Profiler.calendarFill]]
    * 's dense spine first so the smoothed trend reflects calendar
    * adjacency. */
  def ewmaVolume(events: DataFrame, typ: Column, ts: Column,
                 span: Int = 8): DataFrame = {
    val daily = events
      .select(typ.as("event_type"), to_date(ts).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val x = col("n_events")
    val terms = (0 until span).map { i =>
      val wt = 1L << (span - 1 - i)
      (coalesce(lag(x, i).over(w), lit(0L)) * wt,
        when(lag(x, i).over(w).isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    daily.select(col("event_type"), col("day"),
      col("n_events").cast("long").as("n_events"),
      (num * 1000000L).cast("long").as("__n"), den.cast("long").as("__d"))
      .withColumn("ewma_ppm", expr("__n div __d"))
      .drop("__n", "__d")
  }

  /** DuckDB twin of [[ewmaVolume]] over `events`. */
  def ewmaVolumeOracleSql(span: Int = 8): String = {
    val num = (0 until span).map { i =>
      s"coalesce(lag(x, $i) OVER w, 0) * ${1L << (span - 1 - i)}"
    }.mkString(" + ")
    val den = (0 until span).map { i =>
      s"CASE WHEN lag(x, $i) OVER w IS NOT NULL THEN ${1L << (span - 1 - i)} ELSE 0 END"
    }.mkString(" + ")
    s"""
    |WITH daily AS (
    |  SELECT event_type, CAST(ts AS DATE) AS day,
    |    CAST(count(*) AS BIGINT) AS x
    |  FROM events GROUP BY 1, 2)
    |SELECT event_type, day, x AS n_events,
    |  CAST(($num) * 1000000 // ($den) AS BIGINT) AS ewma_ppm
    |FROM daily
    |WINDOW w AS (PARTITION BY event_type ORDER BY day)
    |ORDER BY event_type, day
    |""".stripMargin.trim
  }

  /** Robust (median/MAD) outlier flags over the per-(type, day)
    * volume — the heavy-tail-safe twin of [[zscoreOutliers]]: one
    * genuine 100× spike inflates a mean/stddev baseline enough to
    * mask the next spike, but moves the median not at all. A day is
    * flagged when |x − median| > 3·MAD (MAD = median of absolute
    * deviations from the median).
    *
    * Exactness: medians of integers are integers or exact halves
    * (linear interpolation of two longs), so everything is folded in
    * DOUBLED/QUADRUPLED integer space — med2 = 2·median(x),
    * d2 = |2x − med2|, mad4 = 2·median(d2) — and the flag is the pure
    * integer comparison 2·d2 > 3·mad4. No float ever crosses an
    * engine boundary. Exact medians cost one sort per type of
    * |days|-bounded groups (the time dimension, not the fact volume);
    * the sketch alternative at unbounded cardinality is the declared
    * `approx_quantile` surface. */
  def madOutliers(events: DataFrame, typ: Column, ts: Column,
                  k: Int = 3): DataFrame = {
    val daily = events
      .select(typ.as("event_type"), to_date(ts).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val med = daily.groupBy("event_type")
      .agg((expr("percentile(n_events, 0.5)") * 2).cast("long").as("med2"))
    val withD = daily.join(med, "event_type")
      .withColumn("d2", abs(col("n_events") * 2 - col("med2")))
    val mad = withD.groupBy("event_type")
      .agg((expr("percentile(d2, 0.5)") * 2).cast("long").as("mad4"))
    withD.join(mad, "event_type")
      .select(col("event_type"), col("day"),
        col("n_events").cast("long").as("n_events"),
        col("med2").cast("long").as("med2"),
        col("mad4").cast("long").as("mad4"),
        when(col("d2") * 2 > col("mad4") * k, lit(1L)).otherwise(lit(0L))
          .as("is_outlier"))
  }

  /** DuckDB twin of [[madOutliers]] over `events`. */
  def madOutliersOracleSql(k: Int = 3): String =
    s"""
    |WITH daily AS (
    |  SELECT event_type, CAST(ts AS DATE) AS day,
    |    CAST(count(*) AS BIGINT) AS x
    |  FROM daily_src GROUP BY 1, 2),
    |m AS (
    |  SELECT event_type, CAST(2 * median(x) AS BIGINT) AS med2
    |  FROM daily GROUP BY 1),
    |d AS (
    |  SELECT daily.event_type, day, x, med2, abs(2 * x - med2) AS d2
    |  FROM daily JOIN m USING (event_type)),
    |md AS (
    |  SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad4
    |  FROM d GROUP BY 1)
    |SELECT d.event_type, day, x AS n_events, med2, mad4,
    |  CAST(CASE WHEN 2 * d2 > $k * mad4 THEN 1 ELSE 0 END AS BIGINT)
    |    AS is_outlier
    |FROM d JOIN md USING (event_type)
    |ORDER BY event_type, day
    |""".stripMargin.replace("daily_src", "events").trim

  /** Forward as-of attribution with tolerance — pandas
    * `merge_asof(direction='forward', tolerance=...)`: each `fromType`
    * event is attributed to the FIRST `toType` event of the same user
    * at-or-after it, nulled when the match lands beyond `tolSeconds`.
    * The conversion-lag query behind every ads/checkout funnel.
    *
    * Shape — never a per-row subquery or a time-range theta join: both
    * event sets are unioned and sorted once per user; a running count
    * of target events positions each source event (`np` targets
    * strictly before it, with same-instant targets ordered AFTER the
    * source so ties attribute); target #np+1 — a row_number on the
    * target side — is then an equi-join on (user, seq). Two
    * user-keyed windows + one user-keyed join, all sharing one
    * partitioning. Deterministic: ties broken by (ts, kind,
    * event_id). */
  /** Day-of-week seasonality profile per event type: each weekday's
    * share of the type's volume and its deviation from the flat-week
    * expectation (1/7), both as exact integer ppm — the calendar
    * fingerprint that separates "weekend product" from "office-hours
    * product" and flags feeds whose weekly shape broke. Two
    * hash aggregates ((type, dow) rollup + type totals joined back);
    * |types|·7-bounded output. Monday = 1 … Sunday = 7 (ISO), pinned
    * identically on both engines. */
  def seasonalityProfile(events: DataFrame, typ: Column,
                         ts: Column): DataFrame = {
    val byDow = events
      .select(typ.as("event_type"),
        dayofweek(to_date(ts)).as("__dow_sun1"))
      // Spark dayofweek: Sunday=1..Saturday=7 -> ISO Monday=1..Sunday=7
      .withColumn("dow", ((col("__dow_sun1") + 5) % 7 + 1).cast("long"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"))
    val totals = byDow.groupBy("event_type")
      .agg(sum("n_events").as("__total"))
    byDow.join(totals, "event_type")
      .select(col("event_type"), col("dow"),
        col("n_events").cast("long").as("n_events"),
        expr("(n_events * 1000000) div __total").as("share_ppm"))
      .withColumn("dev_ppm", col("share_ppm") - lit(1000000L / 7L))
  }

  /** DuckDB twin of [[seasonalityProfile]] over `events` (isodow:
    * Monday = 1 … Sunday = 7, matching the Spark-side remap). */
  def seasonalityProfileOracleSql(): String =
    s"""
    |WITH by_dow AS (
    |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
    |    CAST(count(*) AS BIGINT) AS n_events
    |  FROM events GROUP BY 1, 2),
    |totals AS (
    |  SELECT event_type, sum(n_events) AS total FROM by_dow GROUP BY 1)
    |SELECT event_type, dow, n_events,
    |  CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm,
    |  CAST(n_events * 1000000 // total - ${1000000L / 7L} AS BIGINT)
    |    AS dev_ppm
    |FROM by_dow JOIN totals USING (event_type)
    |ORDER BY event_type, dow
    |""".stripMargin.trim

  private val lagUsSql =
    "unix_micros(cast(to_ts as timestamp)) - unix_micros(cast(ts as timestamp))"

  def attributionAsof(events: DataFrame, fromType: String, toType: String,
                      tolSeconds: Long): DataFrame = {
    val u = events
      .filter(col("event_type").isin(fromType, toType))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === toType, lit(1)).otherwise(lit(0))
          .as("kind"))
    val wPos = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val positioned = u.withColumn("np",
      sum(when(col("kind") === 1, 1L).otherwise(0L)).over(wPos))
    val sources = positioned.filter(col("kind") === 0)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("np") + 1).as("want_seq"))
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val targets = u.filter(col("kind") === 1)
      .withColumn("seq", row_number().over(wSeq).cast("long"))
      .select(col("user_id"), col("event_id").as("to_event_id"),
        col("ts").as("to_ts"), col("seq"))
    val tolMicros = tolSeconds * 1000000L
    val lagUs = unix_micros(col("to_ts").cast("timestamp")) -
      unix_micros(col("ts").cast("timestamp"))
    sources.as("s").join(targets.as("p"),
        col("s.user_id") === col("p.user_id") &&
          col("want_seq") === col("seq"), "left")
      .select(col("s.user_id").as("user_id"), col("event_id"), col("ts"),
        when(lagUs <= tolMicros, col("to_event_id")).as("to_event_id"),
        when(lagUs <= tolMicros, col("to_ts")).as("to_ts"),
        when(lagUs <= tolMicros, expr(s"(${lagUsSql}) div 1000000"))
          .as("lag_s"))
  }

  /** DuckDB twin of [[attributionAsof]] over `events`. */
  def attributionAsofOracleSql(fromType: String, toType: String,
                               tolSeconds: Long): String =
    s"""
    |WITH u AS (
    |  SELECT user_id, ts, event_id,
    |    CASE WHEN event_type = '$toType' THEN 1 ELSE 0 END AS kind
    |  FROM events WHERE event_type IN ('$fromType', '$toType')),
    |pos AS (
    |  SELECT *, sum(CASE WHEN kind = 1 THEN 1 ELSE 0 END)
    |    OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
    |          ROWS UNBOUNDED PRECEDING) AS np
    |  FROM u),
    |src AS (
    |  SELECT user_id, event_id, ts, np + 1 AS want_seq
    |  FROM pos WHERE kind = 0),
    |tgt AS (
    |  SELECT user_id, event_id AS to_event_id, ts AS to_ts,
    |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
    |      AS BIGINT) AS seq
    |  FROM u WHERE kind = 1)
    |SELECT j.user_id, j.event_id, j.ts,
    |  CASE WHEN ok THEN to_event_id END AS to_event_id,
    |  CASE WHEN ok THEN to_ts END AS to_ts,
    |  CASE WHEN ok THEN (epoch_us(to_ts) - epoch_us(j.ts)) // 1000000
    |    END AS lag_s
    |FROM (SELECT src.*, tgt.to_event_id, tgt.to_ts,
    |        epoch_us(to_ts) - epoch_us(src.ts)
    |          <= ${tolSeconds * 1000000L} AS ok
    |      FROM src LEFT JOIN tgt
    |        ON src.user_id = tgt.user_id AND src.want_seq = tgt.seq) j
    |ORDER BY user_id, event_id
    |""".stripMargin.trim

  /** Cohort LTV curve: cumulative revenue per acquisition cohort by
    * month offset, normalized per cohort member — the "how much is a
    * January customer worth by month 6" table behind every payback /
    * CAC decision, and the revenue-weighted extension of
    * [[retentionCohort]] (which counts heads only).
    *
    * Months are exact integer indices (year·12 + month − 1, as in
    * Profiler.growthRates), revenue folds in cent-exact decimals,
    * and the per-user LTV is one integer division at the end —
    * engine-identical throughout. Shape: one first-order agg, one
    * join back, one (cohort, offset) agg, then windows over the
    * |cohorts|·|offsets|-bounded curve — the only full-data passes
    * are the two hash aggs. */
  def cohortLtv(orders: DataFrame, user: Column, ts: Column,
                amount: Column): DataFrame = {
    val o = orders.select(user.as("user_id"),
      (year(to_date(ts)) * 12 + month(to_date(ts)) - 1).cast("long")
        .as("midx"),
      amount.cast("decimal(14,2)").as("amt"))
    val first = o.groupBy(col("user_id"))
      .agg(min(col("midx")).as("cohort_month"))
    val sizes = first.groupBy(col("cohort_month"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    val cur = o.join(first, Seq("user_id"))
      .groupBy(col("cohort_month"),
        (col("midx") - col("cohort_month")).as("month_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        (sum(col("amt")) * 100).cast("long").as("rev_cents"))
    val wCum = Window.partitionBy(col("cohort_month"))
      .orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cur.join(sizes, Seq("cohort_month"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wCum))
      .select(col("cohort_month"), col("month_offset").cast("long"),
        col("n_active").cast("long").as("n_active"),
        col("rev_cents"),
        col("cum_rev_cents").cast("long").as("cum_rev_cents"),
        // sign-safe: cum revenue can go negative under refunds;
        // truncating `div` vs flooring `//` would diverge unguarded.
        expr("case when cum_rev_cents >= 0 " +
          "then cum_rev_cents div cohort_size " +
          "else -((-cum_rev_cents) div cohort_size) end").cast("long")
          .as("ltv_cents_per_user"))
      .orderBy("cohort_month", "month_offset")
  }

  /** DuckDB twin of [[cohortLtv]] over `orders`. */
  val cohortLtvOracleSql: String =
    """
    |WITH o AS (
    |  SELECT o_custkey AS user_id,
    |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
    |      AS midx,
    |    CAST(o_totalprice AS DECIMAL(14,2)) AS amt
    |  FROM orders),
    |f AS (SELECT user_id, min(midx) AS cohort_month FROM o GROUP BY 1),
    |s AS (SELECT cohort_month, count(DISTINCT user_id) AS cohort_size
    |      FROM f GROUP BY 1),
    |c AS (
    |  SELECT f.cohort_month, o.midx - f.cohort_month AS month_offset,
    |    count(DISTINCT o.user_id) AS n_active,
    |    CAST(sum(o.amt) * 100 AS BIGINT) AS rev_cents
    |  FROM o JOIN f ON o.user_id = f.user_id
    |  GROUP BY 1, 2),
    |w AS (
    |  SELECT c.*, s.cohort_size,
    |    sum(rev_cents) OVER (PARTITION BY c.cohort_month
    |      ORDER BY month_offset ROWS UNBOUNDED PRECEDING) AS cum_rev
    |  FROM c JOIN s ON s.cohort_month = c.cohort_month)
    |SELECT cohort_month, CAST(month_offset AS BIGINT) AS month_offset,
    |  CAST(n_active AS BIGINT) AS n_active, rev_cents,
    |  CAST(cum_rev AS BIGINT) AS cum_rev_cents,
    |  CAST(CASE WHEN cum_rev >= 0 THEN cum_rev // cohort_size
    |    ELSE -((-cum_rev) // cohort_size) END AS BIGINT)
    |    AS ltv_cents_per_user
    |FROM w ORDER BY cohort_month, month_offset
    |""".stripMargin.trim

  /** Top event TRIGRAMS: the three-step behavioral paths
    * (A→B→C) users actually walk, ranked by frequency — one step
    * deeper than the first-order transition matrix
    * (`event_transitions`), which cannot distinguish "view→click→
    * purchase" from "click→view→purchase" even though they imply
    * opposite funnels. Two lead() windows on the per-user stream
    * (same hash partition, one sort), one hash agg, k-bounded
    * TakeOrdered. Paths never cross users by construction. */
  def eventTrigrams(events: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** DuckDB twin of [[eventTrigrams]] over `events`. */
  def eventTrigramsOracleSql(k: Int): String =
    s"""
    |WITH t AS (
    |  SELECT event_type AS e1,
    |    lead(event_type, 1) OVER w AS e2,
    |    lead(event_type, 2) OVER w AS e3
    |  FROM events
    |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    |GROUP BY 1, 2, 3
    |ORDER BY n DESC, e1, e2, e3 LIMIT $k
    |""".stripMargin.trim

  /** Interval union (coverage): merge each user's overlapping
    * activity spans and report how many merged spans remain and how
    * much wall-clock they cover — the "actual engaged time" number
    * (billable seconds, machine uptime, listening time) that naive
    * per-event duration sums OVERCOUNT wherever intervals overlap.
    * Spans here are event-anchored [ts, ts+pad).
    *
    * The merge is the classic sweep: within a user, order spans by
    * start; a span starts a NEW merged group iff its start exceeds
    * the running max of all PRECEDING ends (strictly — touching
    * spans merge). Each group formed this way is contiguous by
    * construction, so its union is [min start, max end] and coverage
    * is one subtraction. One lag-style window + one running sum +
    * one group agg, all on the user's hash partition — no interval
    * self-join, nothing quadratic in events per user. */
  def intervalUnion(events: DataFrame, padSeconds: Long): DataFrame = {
    val s = unix_micros(col("ts").cast("timestamp"))
    val spans = events.select(col("user_id"), col("event_id"),
      s.as("s"), (s + padSeconds * 1000000L).as("e"))
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans
      .withColumn("__new",
        when(col("s") > coalesce(max(col("e")).over(wPrev),
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(wCum))
      .groupBy(col("user_id"), col("__grp"))
      .agg(min(col("s")).as("gs"), max(col("e")).as("ge"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        expr("sum(ge - gs) div 1000000").cast("long").as("covered_s"))
      .orderBy("user_id")
  }

  /** DuckDB twin of [[intervalUnion]] over `events`. */
  def intervalUnionOracleSql(padSeconds: Long): String =
    s"""
    |WITH spans AS (
    |  SELECT user_id, event_id, epoch_us(ts) AS s,
    |    epoch_us(ts) + ${padSeconds * 1000000L} AS e
    |  FROM events),
    |m AS (
    |  SELECT *, CASE WHEN s > coalesce(max(e) OVER (
    |      PARTITION BY user_id ORDER BY s, event_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    |      ${Long.MinValue}) THEN 1 ELSE 0 END AS is_new
    |  FROM spans),
    |g AS (
    |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
    |    ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS grp
    |  FROM m),
    |sp AS (
    |  SELECT user_id, grp, min(s) AS gs, max(e) AS ge
    |  FROM g GROUP BY 1, 2)
    |SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
    |  CAST(sum(ge - gs) // 1000000 AS BIGINT) AS covered_s
    |FROM sp GROUP BY user_id ORDER BY user_id
    |""".stripMargin.trim

  /** Incremental [[cohortLtv]]: a new month of orders arrives as
    * `delta`; only the cohorts TOUCHED by the delta recompute, the
    * rest carry forward — the standard partition-scoped refresh of a
    * cumulative mart. Touched = the cohort months of the delta's
    * users (an existing user's cohort is its historical first-order
    * month — one semi-join against the base's first-order index;
    * a genuinely new user founds a cohort from the delta alone).
    * Untouched cohorts' rows are produced from base only; the
    * declared query proves the identity incremental ≡ full recompute
    * by construction (the oracle replays the full path). Scale: the
    * recompute scope is |touched cohorts| — for a one-month delta
    * that's "cohorts with an active user this month", not the decade
    * of history. */
  def cohortLtvIncremental(base: DataFrame, delta: DataFrame,
                           user: Column, ts: Column,
                           amount: Column): DataFrame = {
    val all = base.unionByName(delta)
    val mo = (c: Column) =>
      (year(to_date(c)) * 12 + month(to_date(c)) - 1).cast("long")
    val firstAll = all.select(user.as("__u"), mo(ts).as("__m"))
      .groupBy("__u").agg(min(col("__m")).as("__cohort"))
    val touchedCohorts = delta.select(user.as("__u")).distinct()
      .join(firstAll, Seq("__u"))
      .select(col("__cohort")).distinct()
    // users in touched cohorts (their entire history re-aggregates);
    // everyone else carries forward from base alone. Robust to
    // retro-dated deltas: a user whose cohort MOVES is touched, and
    // the cohort it left recomputes from the untouched side without
    // that user — both sides stay exact.
    val touchedUsers = firstAll
      .join(broadcast(touchedCohorts), Seq("__cohort"), "left_semi")
      .select(col("__u"))
    // touchedUsers is NOT broadcast-hinted: for a typical one-month
    // delta the touched cohorts cover most cohorts with an active
    // user, so touchedUsers approaches the full user base — an
    // unbounded set. AQE picks the semi/anti strategy at runtime
    // (broadcast when genuinely small, shuffled hash otherwise).
    val touchedRows = all.join(touchedUsers,
      user === col("__u"), "left_semi")
    val untouchedRows = base.join(touchedUsers,
      user === col("__u"), "left_anti")
    cohortLtv(touchedRows, user, ts, amount)
      .unionByName(cohortLtv(untouchedRows, user, ts, amount))
      .orderBy("cohort_month", "month_offset")
  }

  /** Event debounce: collapse bursts of same-(user, type) events
    * whose inter-arrival gap chains within `gapSeconds` down to
    * their FIRST event, reporting how many each kept event absorbed
    * — the double-click / retry / at-least-once-delivery hygiene
    * pass run before any funnel or attribution query (a retry storm
    * otherwise counts as engagement). Chained-gap (session-style)
    * semantics: a new burst starts when the gap from the PREVIOUS
    * EVENT exceeds the threshold — one lag + one running sum + one
    * per-burst window, all on the same (user, type) hash partition;
    * no self-join, nothing quadratic, state is one row per event. */
  def eventDedup(events: DataFrame, gapSeconds: Long): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts").cast("timestamp")) -
      unix_micros(col("__prev").cast("timestamp"))
    val marked = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("__prev", lag(col("ts"), 1).over(wSeq))
      .withColumn("__new",
        when(col("__prev").isNull ||
          gapUs > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wGrp = Window.partitionBy(col("user_id"), col("event_type"),
      col("__grp"))
    marked
      .withColumn("__n", count(lit(1)).over(wGrp))
      .withColumn("__rk", row_number().over(
        wGrp.orderBy(col("ts"), col("event_id"))))
      .filter(col("__rk") === 1)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("__n").cast("long").as("n_collapsed"))
      .orderBy("event_id")
  }

  /** DuckDB twin of [[eventDedup]] over `events`. */
  def eventDedupOracleSql(gapSeconds: Long): String =
    s"""
    |WITH l AS (
    |  SELECT user_id, event_type, ts, event_id,
    |    lag(ts) OVER (PARTITION BY user_id, event_type
    |      ORDER BY ts, event_id) AS prev
    |  FROM events),
    |m AS (
    |  SELECT *, CASE WHEN prev IS NULL OR
    |      epoch_us(ts) - epoch_us(prev) > ${gapSeconds * 1000000L}
    |    THEN 1 ELSE 0 END AS is_new
    |  FROM l),
    |g AS (
    |  SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type
    |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS grp
    |  FROM m),
    |k AS (
    |  SELECT *, count(*) OVER (PARTITION BY user_id, event_type, grp)
    |      AS n_collapsed,
    |    row_number() OVER (PARTITION BY user_id, event_type, grp
    |      ORDER BY ts, event_id) AS rk
    |  FROM g)
    |SELECT user_id, event_type, ts, event_id,
    |  CAST(n_collapsed AS BIGINT) AS n_collapsed
    |FROM k WHERE rk = 1 ORDER BY event_id
    |""".stripMargin.trim
}
