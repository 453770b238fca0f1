package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Bradley–Terry preference ranking (extension surface,
  * SURVEY §7.6) — the aggregate behind RLHF preference data and
  * arena-style model leaderboards: given a log of pairwise
  * comparisons ("a beat b"), estimate per-player strengths p_i with
  * the Bradley–Terry model P(i beats j) = p_i / (p_i + p_j)
  * (Bradley & Terry 1952, Biometrika; the MM update below is Hunter,
  * "MM algorithms for generalized Bradley-Terry models", Ann.
  * Statist. 2004 — both public).
  *
  * Why Bradley–Terry and not Elo for a Spark engine: Elo is a
  * SEQUENTIAL fold — each match updates state consumed by the next,
  * so it cannot be parallelized without changing the answer. BT's
  * likelihood depends on the match log only through the per-pair
  * sufficient statistics (n_ij, w_ij) — order-free, so a 100 TB
  * comparison log reduces to ONE hash aggregate emitting at most
  * |players|² rows, and every MM iteration after that runs on the
  * tiny aggregated relation. The corpus is touched exactly once;
  * iteration count multiplies a ~K²-row job, not a 100 TB scan.
  * That separation is the whole design: [[pairStats]] is the scan,
  * [[ratingChain]] is the solver.
  *
  * MM update, fixed-point integer form (micro-units, S = 10⁶):
  *
  *   P_i' = (W̃_i · S²) div Σ_j (ñ_ij · S²) div (P_i + P_j)
  *
  * with Laplace-smoothed statistics W̃_i = w_i + (#opponents) and
  * ñ_ij = n_ij + 2 (one virtual win per direction per observed
  * pair): the smoothing keeps every appearing player's wins ≥ 1, so
  * ratings stay strictly positive and the integer divisions are
  * total — the classic BT failure mode (a player with zero wins has
  * MLE 0, zeroing the denominator for its opponents) cannot occur on
  * ANY input. All quantities are positive int64, every per-pair
  * division truncates identically on Spark (`div`) and DuckDB
  * (`//`), and the sums are order-independent — the oracle twins are
  * engine-exact with zero float folds (the
  * [[graft.ext.Similarity.kmeansUpdate]] determinism recipe).
  *
  * Overflow headroom: terms are bounded by max(W̃_i, ñ_ij)·S² ≤
  * n_matches·10¹² — int64-safe below ~9·10⁶ matches PER PAIR. A
  * 100 TB log exceeding that per-pair bound upgrades the two
  * multiplications to decimal(38,0) (the
  * [[graft.ext.Similarity]] §HLL precedent); the declared fixture
  * stays int64 so the hot path keeps codegen'd long arithmetic.
  *
  * The declared fixture derives matches from `events`: consecutive
  * event pairs (2k, 2k+1) are a match between user_id % nPlayers
  * cohorts, higher `value` wins, exact ties to the lower id —
  * deterministic and SQL-expressible, standing in for the real
  * deployment's (prompt, model_a, model_b, winner) log.
  */
object Prefs {

  /** Rating scale: micro-units (1.0 ≡ 10⁶). */
  val S: Long = 1000000L
  private val S2: Long = S * S

  /** Deterministic match log from the `events` fixture: one match
    * per consecutive event-id pair (2k, 2k+1), players = user_id
    * cohorts mod `nPlayers`, higher `value` wins, exact tie → lower
    * player id. Same-cohort pairs are dropped (no self-matches).
    * Output: (p_lo, p_hi, winner) with p_lo < p_hi.
    *
    * The pairing self-join is keyed on event_id — an equi-join, NOT
    * a global-order window (a `lead() OVER (ORDER BY event_id)`
    * would serialize the corpus onto one task). Real deployments
    * skip this step entirely: their match log already arrives as
    * (a, b, winner) rows feeding [[pairStats]] directly. */
  def matchesFrom(events: DataFrame, nPlayers: Int): DataFrame = {
    val e = events.select(col("event_id"),
      (col("user_id") % nPlayers).cast("long").as("pl"), col("value"))
    val first = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("__mid"), col("pl").as("__a"),
        col("value").as("__va"))
    val second = e.filter(col("event_id") % 2 === 1)
      .select((col("event_id") - 1).as("__mid"), col("pl").as("__b"),
        col("value").as("__vb"))
    first.join(second, Seq("__mid"))
      .filter(col("__a") =!= col("__b"))
      .select(
        least(col("__a"), col("__b")).as("p_lo"),
        greatest(col("__a"), col("__b")).as("p_hi"),
        when(col("__va") > col("__vb"), col("__a"))
          .when(col("__vb") > col("__va"), col("__b"))
          .otherwise(least(col("__a"), col("__b"))).as("winner"))
  }

  /** The sufficient statistics — the ONLY pass over the match log:
    * per unordered pair (p_lo < p_hi), total matches and wins of the
    * low-id side. One hash aggregate; output ≤ |players|² rows
    * regardless of log size. Additive across shards (pure counts). */
  def pairStats(matches: DataFrame): DataFrame =
    matches.groupBy(col("p_lo"), col("p_hi"))
      .agg(count(lit(1)).cast("long").as("n_matches"),
        sum(when(col("winner") === col("p_lo"), 1L).otherwise(0L))
          .cast("long").as("wins_lo"))

  /** Laplace-smoothed directed view of [[pairStats]] (optionally
    * keyed by partition columns, e.g. a time window): one row per
    * ordered (keys…, a, b) with ñ = n + 2 and w̃(a over b) = w + 1.
    * Pinned — every MM iteration joins it twice, and without the pin
    * each round's lineage would re-run the corpus aggregate. */
  private def symSmoothed(pairs: DataFrame,
                          keys: Seq[String] = Nil): DataFrame = {
    val k = keys.map(col)
    Pin.pin(
      pairs.select(k ++ Seq(col("p_lo").as("a"), col("p_hi").as("b"),
          (col("n_matches") + 2L).as("n"), (col("wins_lo") + 1L).as("w")): _*)
        .unionAll(pairs.select(k ++ Seq(col("p_hi").as("a"),
          col("p_lo").as("b"), (col("n_matches") + 2L).as("n"),
          (col("n_matches") - col("wins_lo") + 1L).as("w")): _*)))
  }

  /** The MM recursion from the flat start P = S, generalized over
    * partition keys: with `keys` empty this is ONE leaderboard; with
    * keys (e.g. a day window) it is thousands of INDEPENDENT solves
    * in the same dataflow — per-key relations never interact (every
    * join and aggregate carries the keys), so no driver loop over
    * windows and no per-window job submission. Returns the ratings
    * relation after each round (index 0 = the flat start). Each
    * round is pinned ([[graft.ext.Graph.kcoreRounds]] precedent):
    * the update consumes the previous ratings TWICE (both join
    * sides), so an unpinned chain would re-execute 2^iters
    * subtrees. */
  private def mmRounds(sym: DataFrame, keys: Seq[String],
                       iters: Int): Seq[DataFrame] = {
    val k = keys.map(col)
    var r = Pin.pin(sym.select(k :+ col("a").as("player"): _*).distinct()
      .select(k ++ Seq(col("player"), lit(S).as("p")): _*))
    val acc = scala.collection.mutable.ArrayBuffer(r)
    for (_ <- 1 to iters) {
      val prev = r
      // ratings are ≤ |players|·|windows| rows by construction (a
      // metadata-scale relation) — broadcast DECLARED (a pinned
      // LogicalRDD has no stats, so the compile-time planner would
      // otherwise fall back to sort-merge and leave the fix to AQE)
      val joined = sym
        .join(broadcast(prev.select(k ++ Seq(col("player").as("a"),
          col("p").as("pa")): _*)), keys :+ "a")
        .join(broadcast(prev.select(k ++ Seq(col("player").as("b"),
          col("p").as("pb")): _*)), keys :+ "b")
        .select(k ++ Seq(col("a"), col("w"),
          expr(s"(n * ${S2}L) div (pa + pb)").as("__t")): _*)
      val d = joined.groupBy(k :+ col("a"): _*)
        .agg(sum(col("w")).as("__ws"), sum(col("__t")).as("__denom"))
      r = Pin.pin(d.select(k ++ Seq(col("a").as("player"),
        expr(s"(__ws * ${S2}L) div __denom").as("p")): _*))
      acc += r
    }
    acc.toSeq
  }

  /** `iters` MM rounds from the flat start P = S. Returns the final
    * ratings relation (player, p) and the per-round convergence
    * trace (iter, max_delta, sum_p) — max_delta is the fixed-point
    * analog of the MM objective's monotone climb, sum_p pins the
    * scale drift a reader would otherwise have to trust. */
  def ratingChain(pairs: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    // the convergence trace is built from consecutive round pairs, so
    // zero rounds has no trace — fail with the contract, not a
    // MatchError out of the sliding window
    require(iters >= 1, "ratingChain needs at least one MM round")
    val rounds = mmRounds(symSmoothed(pairs), Nil, iters)
    val conv = rounds.sliding(2).zipWithIndex.map { case (Seq(p0, p1), i) =>
      p1.select(col("player"), col("p").as("__pn"))
        .join(p0.select(col("player"), col("p").as("__pp")), Seq("player"))
        .agg(max(abs(col("__pn") - col("__pp"))).as("max_delta"),
          sum(col("__pn")).as("sum_p"))
        .select(lit((i + 1).toLong).as("iter"),
          col("max_delta").cast("long").as("max_delta"),
          col("sum_p").cast("long").as("sum_p"))
    }.reduce(_ unionAll _)
    (rounds.last, conv)
  }

  /** Final leaderboard: per player the share-normalized rating
    * (rating_ppm = P_i · 10⁶ div ΣP — scale-free, so the MM chain's
    * benign drift cancels) plus the UNsmoothed wins / n_matches a
    * consumer reads next to it. */
  def btRating(pairs0: DataFrame, iters: Int): DataFrame = {
    val pairs = Pin.pin(pairs0)
    val (rK, _) = ratingChain(pairs, iters)
    val tot = rK.agg(sum(col("p")).as("__sp"))
    val per = pairs.select(col("p_lo").as("player"), col("n_matches"),
        col("wins_lo").as("wins"))
      .unionAll(pairs.select(col("p_hi").as("player"), col("n_matches"),
        (col("n_matches") - col("wins_lo")).as("wins")))
      .groupBy(col("player"))
      .agg(sum(col("n_matches")).cast("long").as("n_matches"),
        sum(col("wins")).cast("long").as("wins"))
    rK.crossJoin(broadcast(tot))
      .select(col("player"), expr(s"(p * ${S}L) div __sp").as("rating_ppm"))
      .join(broadcast(per), Seq("player"))
      .select(col("player"), col("rating_ppm"), col("wins"),
        col("n_matches"))
      .orderBy("player")
  }

  /** Convergence trace as a declared query (iter, max_delta, sum_p),
    * iters rows — the dial a deployment reads to size `iters`. */
  def btConvergence(pairs: DataFrame, iters: Int): DataFrame =
    ratingChain(Pin.pin(pairs), iters)._2.orderBy("iter")

  /** [[matchesFrom]] with the match DAY carried (match_day =
    * date(e1.ts)) — the windowed-leaderboard input. */
  def datedMatchesFrom(events: DataFrame, nPlayers: Int): DataFrame = {
    val e = events.select(col("event_id"),
      (col("user_id") % nPlayers).cast("long").as("pl"), col("value"),
      col("ts"))
    val first = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("__mid"), col("pl").as("__a"),
        col("value").as("__va"), to_date(col("ts")).as("match_day"))
    val second = e.filter(col("event_id") % 2 === 1)
      .select((col("event_id") - 1).as("__mid"), col("pl").as("__b"),
        col("value").as("__vb"))
    first.join(second, Seq("__mid"))
      .filter(col("__a") =!= col("__b"))
      .select(col("match_day"),
        least(col("__a"), col("__b")).as("p_lo"),
        greatest(col("__a"), col("__b")).as("p_hi"),
        when(col("__va") > col("__vb"), col("__a"))
          .when(col("__vb") > col("__va"), col("__b"))
          .otherwise(least(col("__a"), col("__b"))).as("winner"))
  }

  /** Per-day sufficient statistics — [[pairStats]] keyed by
    * match_day. Still one hash aggregate over the corpus; output
    * ≤ |days|·|players|² rows. */
  def pairStatsByDay(matches: DataFrame): DataFrame =
    matches.groupBy(col("match_day"), col("p_lo"), col("p_hi"))
      .agg(count(lit(1)).cast("long").as("n_matches"),
        sum(when(col("winner") === col("p_lo"), 1L).otherwise(0L))
          .cast("long").as("wins_lo"))

  /** One leaderboard PER DAY, all solved in the same dataflow: the
    * keyed [[mmRounds]] chain — every join and aggregate carries
    * match_day, so the |days| solves are independent by construction
    * (PrefsSpec pins slice-equivalence: the keyed solve filtered to
    * one day equals [[btRating]] on that day's pairs alone) and cost
    * one plan, not |days| driver-looped jobs. The daily-leaderboard /
    * rating-over-time read a preference pipeline actually ships. */
  def btRatingByDay(pairs0: DataFrame, iters: Int): DataFrame = {
    val pairs = Pin.pin(pairs0)
    val key = "match_day"
    val rK = mmRounds(symSmoothed(pairs, Seq(key)), Seq(key), iters).last
    val tot = rK.groupBy(col(key)).agg(sum(col("p")).as("__sp"))
    val per = pairs.select(col(key), col("p_lo").as("player"),
        col("n_matches"), col("wins_lo").as("wins"))
      .unionAll(pairs.select(col(key), col("p_hi").as("player"),
        col("n_matches"), (col("n_matches") - col("wins_lo")).as("wins")))
      .groupBy(col(key), col("player"))
      .agg(sum(col("n_matches")).cast("long").as("n_matches"),
        sum(col("wins")).cast("long").as("wins"))
    rK.join(broadcast(tot), Seq(key))
      .select(col(key), col("player"),
        expr(s"(p * ${S}L) div __sp").as("rating_ppm"))
      .join(broadcast(per), Seq(key, "player"))
      .select(col(key), col("player"), col("rating_ppm"), col("wins"),
        col("n_matches"))
      .orderBy(key, "player")
  }

  // ------------------------------------------------------------------
  // DuckDB twins
  // ------------------------------------------------------------------

  /** Shared match-log + pair-stats CTE prefix (`m`, `w`, `pairs`). */
  def matchCtes(nPlayers: Int): String =
    s"""m AS MATERIALIZED (
    |  SELECT CAST(e1.user_id % $nPlayers AS BIGINT) AS a,
    |    CAST(e2.user_id % $nPlayers AS BIGINT) AS b,
    |    e1.value AS va, e2.value AS vb
    |  FROM events e1 JOIN events e2 ON e2.event_id = e1.event_id + 1
    |  WHERE e1.event_id % 2 = 0
    |    AND (e1.user_id % $nPlayers) <> (e2.user_id % $nPlayers)),
    |w AS MATERIALIZED (
    |  SELECT LEAST(a, b) AS p_lo, GREATEST(a, b) AS p_hi,
    |    CASE WHEN va > vb THEN a WHEN vb > va THEN b
    |         ELSE LEAST(a, b) END AS winner
    |  FROM m),
    |pairs AS MATERIALIZED (
    |  SELECT p_lo, p_hi, CAST(count(*) AS BIGINT) AS n_matches,
    |    CAST(sum(CASE WHEN winner = p_lo THEN 1 ELSE 0 END) AS BIGINT)
    |      AS wins_lo
    |  FROM w GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[pairStats]] over the events-derived matches. */
  def pairStatsOracleSql(nPlayers: Int): String =
    s"""
    |WITH ${matchCtes(nPlayers)}
    |SELECT p_lo, p_hi, n_matches, wins_lo FROM pairs
    |ORDER BY p_lo, p_hi
    |""".stripMargin.trim

  /** The MM chain as unrolled MATERIALIZED CTEs (`sym`, `r0` ..
    * `r$iters`) — one pair of CTEs per round, the
    * [[graft.ext.Graph.kcoreRoundsOracleSql]] pattern. */
  def chainCtes(nPlayers: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= matchCtes(nPlayers)
    sb ++= s""",
    |sym AS MATERIALIZED (
    |  SELECT p_lo AS a, p_hi AS b, n_matches + 2 AS n, wins_lo + 1 AS w
    |  FROM pairs
    |  UNION ALL
    |  SELECT p_hi, p_lo, n_matches + 2, n_matches - wins_lo + 1
    |  FROM pairs),
    |r0 AS MATERIALIZED (
    |  SELECT DISTINCT a AS player, CAST($S AS BIGINT) AS p FROM sym)"""
      .stripMargin
    for (k <- 1 to iters) {
      val p = k - 1
      sb ++= s""",
      |d$k AS MATERIALIZED (
      |  SELECT s.a AS player, SUM(s.w) AS ws,
      |    SUM((s.n * CAST($S2 AS BIGINT)) // (pa.p + pb.p)) AS denom
      |  FROM sym s
      |  JOIN r$p pa ON pa.player = s.a
      |  JOIN r$p pb ON pb.player = s.b
      |  GROUP BY 1),
      |r$k AS MATERIALIZED (
      |  SELECT player, CAST((ws * CAST($S2 AS BIGINT)) // denom AS BIGINT)
      |    AS p
      |  FROM d$k)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[btRating]]. */
  def btRatingOracleSql(nPlayers: Int, iters: Int): String =
    s"""
    |WITH ${chainCtes(nPlayers, iters)},
    |tot AS (SELECT SUM(p) AS sp FROM r$iters),
    |per AS (
    |  SELECT player, CAST(SUM(n) AS BIGINT) AS n_matches,
    |    CAST(SUM(w) AS BIGINT) AS wins
    |  FROM (
    |    SELECT p_lo AS player, n_matches AS n, wins_lo AS w FROM pairs
    |    UNION ALL
    |    SELECT p_hi, n_matches, n_matches - wins_lo FROM pairs)
    |  GROUP BY 1)
    |SELECT r.player,
    |  CAST((r.p * CAST($S AS BIGINT)) // t.sp AS BIGINT) AS rating_ppm,
    |  per.wins, per.n_matches
    |FROM r$iters r CROSS JOIN tot t JOIN per ON per.player = r.player
    |ORDER BY r.player
    |""".stripMargin.trim

  /** Keyed chain CTEs (`m`/`w`/`pairs`/`sym`/`r0`..`r$iters`, every
    * key and join carrying match_day) — the unrolled twin of the
    * keyed [[mmRounds]]. */
  def datedChainCtes(nPlayers: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""m AS MATERIALIZED (
    |  SELECT CAST(e1.ts AS DATE) AS match_day,
    |    CAST(e1.user_id % $nPlayers AS BIGINT) AS a,
    |    CAST(e2.user_id % $nPlayers AS BIGINT) AS b,
    |    e1.value AS va, e2.value AS vb
    |  FROM events e1 JOIN events e2 ON e2.event_id = e1.event_id + 1
    |  WHERE e1.event_id % 2 = 0
    |    AND (e1.user_id % $nPlayers) <> (e2.user_id % $nPlayers)),
    |w AS MATERIALIZED (
    |  SELECT match_day, LEAST(a, b) AS p_lo, GREATEST(a, b) AS p_hi,
    |    CASE WHEN va > vb THEN a WHEN vb > va THEN b
    |         ELSE LEAST(a, b) END AS winner
    |  FROM m),
    |pairs AS MATERIALIZED (
    |  SELECT match_day, p_lo, p_hi, CAST(count(*) AS BIGINT) AS n_matches,
    |    CAST(sum(CASE WHEN winner = p_lo THEN 1 ELSE 0 END) AS BIGINT)
    |      AS wins_lo
    |  FROM w GROUP BY 1, 2, 3),
    |sym AS MATERIALIZED (
    |  SELECT match_day, p_lo AS a, p_hi AS b, n_matches + 2 AS n,
    |    wins_lo + 1 AS w
    |  FROM pairs
    |  UNION ALL
    |  SELECT match_day, p_hi, p_lo, n_matches + 2,
    |    n_matches - wins_lo + 1
    |  FROM pairs),
    |r0 AS MATERIALIZED (
    |  SELECT DISTINCT match_day, a AS player, CAST($S AS BIGINT) AS p
    |  FROM sym)""".stripMargin
    for (k <- 1 to iters) {
      val p = k - 1
      sb ++= s""",
      |d$k AS MATERIALIZED (
      |  SELECT s.match_day, s.a AS player, SUM(s.w) AS ws,
      |    SUM((s.n * CAST($S2 AS BIGINT)) // (pa.p + pb.p)) AS denom
      |  FROM sym s
      |  JOIN r$p pa ON pa.match_day = s.match_day AND pa.player = s.a
      |  JOIN r$p pb ON pb.match_day = s.match_day AND pb.player = s.b
      |  GROUP BY 1, 2),
      |r$k AS MATERIALIZED (
      |  SELECT match_day, player,
      |    CAST((ws * CAST($S2 AS BIGINT)) // denom AS BIGINT) AS p
      |  FROM d$k)""".stripMargin
    }
    sb.toString
  }

  /** DuckDB twin of [[btRatingByDay]]. */
  def btRatingByDayOracleSql(nPlayers: Int, iters: Int): String =
    s"""
    |WITH ${datedChainCtes(nPlayers, iters)},
    |tot AS (SELECT match_day, SUM(p) AS sp FROM r$iters GROUP BY 1),
    |per AS (
    |  SELECT match_day, player, CAST(SUM(n) AS BIGINT) AS n_matches,
    |    CAST(SUM(w) AS BIGINT) AS wins
    |  FROM (
    |    SELECT match_day, p_lo AS player, n_matches AS n, wins_lo AS w
    |    FROM pairs
    |    UNION ALL
    |    SELECT match_day, p_hi, n_matches, n_matches - wins_lo
    |    FROM pairs)
    |  GROUP BY 1, 2)
    |SELECT r.match_day, r.player,
    |  CAST((r.p * CAST($S AS BIGINT)) // t.sp AS BIGINT) AS rating_ppm,
    |  per.wins, per.n_matches
    |FROM r$iters r
    |JOIN tot t ON t.match_day = r.match_day
    |JOIN per ON per.match_day = r.match_day AND per.player = r.player
    |ORDER BY r.match_day, r.player
    |""".stripMargin.trim

  /** DuckDB twin of [[btConvergence]]. */
  def btConvergenceOracleSql(nPlayers: Int, iters: Int): String = {
    val rows = (1 to iters).map { k =>
      val p = k - 1
      s"""SELECT CAST($k AS BIGINT) AS iter,
      |  CAST(MAX(ABS(n.p - o.p)) AS BIGINT) AS max_delta,
      |  CAST(SUM(n.p) AS BIGINT) AS sum_p
      |FROM r$k n JOIN r$p o ON o.player = n.player""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""
    |WITH ${chainCtes(nPlayers, iters)}
    |$rows
    |ORDER BY iter
    |""".stripMargin.trim
  }
}
