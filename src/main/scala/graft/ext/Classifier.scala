package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality classifier (extension surface, SURVEY §7.6): the
  * fasttext-style linear filter every production corpus pipeline
  * trains — "given a small trusted target set, score every document"
  * (GPT-3/LLaMA-style quality classification) — as logistic
  * regression over cheap per-document count features, run entirely
  * as Spark aggregates and projections (no MLlib dependency, no
  * driver-side data).
  *
  *   - [[lrStep0]] — the declared, ORACLE-CHECKED training step: the
  *     exact first gradient at w=0. There σ(w·x) = 1/2 exactly, so the
  *     doubled gradient 2·∇_j = Σ_d (1 − 2y_d)·x_dj is pure int64
  *     arithmetic — engine-exact with zero float folds.
  *   - [[scoreFixed]] and the audits over it — deployment scoring
  *     under fixed literal weights, emitting the logit.
  *
  * Features are COUNTS (bias, words, chars, stopword hits, distinct
  * tokens) so the declared step needs no float anywhere; scoring
  * normalizes them to O(1) ratios for conditioning.
  */
object Classifier {

  /** Feature names, index-aligned with the x-columns of [[lrStep0]]
    * and the weights of [[scoreFixed]]. */
  val FeatureNames: Seq[String] =
    Seq("bias", "n_words", "n_chars", "n_stop", "n_distinct")

  /** The exact first LR gradient (w = 0) for label `y`: one row per
    * feature with `g2_fp = Σ_d (1 − 2·y_d)·x_dj` (twice the gradient
    * of mean log-loss times n — the sign/ratio structure is what a
    * training-loop consumer needs; halving and 1/n-scaling are
    * literal constants). Features are integer counts, so the whole
    * step is int64-exact. A single hash aggregate over a projection:
    * one pass, no shuffle beyond the nFeatures-row reduce. The
    * tokenization is pinned behind the `__w` alias boundary —
    * computed once per row, not once per feature (the
    * [[graft.ext.Dedup.wordGramsFrom]] inlining trap). */
  def lrStep0(docs: DataFrame, text: Column,
              label: Column): DataFrame = {
    val stops = TextAnalysis.Markers.head._2
    val pre = docs.select(text.as("__text"), label.as("__y"))
      .withColumn("__w", split(col("__text"), " "))
      .select(
        (lit(1L) - lit(2L) * when(col("__y"), 1L).otherwise(0L)).as("__y2"),
        lit(1L).as("__x0"),
        size(col("__w")).cast("long").as("__x1"),
        length(col("__text")).cast("long").as("__x2"),
        size(filter(col("__w"), t => t.isin(stops.map(lit): _*)))
          .cast("long").as("__x3"),
        size(array_distinct(col("__w"))).cast("long").as("__x4"))
    val g = pre.agg(
      sum(col("__y2") * col("__x0")).as("g2_bias"),
      (1 until FeatureNames.length).map(i =>
        sum(col("__y2") * col(s"__x$i")).as(s"g2_${FeatureNames(i)}")) :+
        count(lit(1)).as("n_docs"): _*)
    // unpivot to (feature, g2_fp, n_docs) rows — stable schema as
    // features evolve, and scalar cells for the correctness gate
    g.select(explode(array(FeatureNames.map(n =>
        struct(lit(n).as("feature"), col(s"g2_$n").as("g2"),
          col("n_docs").as("nd"))): _*)).as("e"))
      .select(col("e.feature").as("feature"),
        col("e.g2").cast("long").as("g2_fp"),
        col("e.nd").cast("long").as("n_docs"))
  }

  /** DuckDB twin of [[lrStep0]] over `documents` with target
    * `lang = 'en'`. */
  def lrStep0OracleSql(
      stops: Seq[String] = TextAnalysis.Markers.head._2): String = {
    val stopList = stops.map(x => s"'$x'").mkString(", ")
    s"""
    |WITH f AS (
    |  SELECT doc_id,
    |    CASE WHEN lang = 'en' THEN -1 ELSE 1 END AS y2,
    |    CAST(1 AS BIGINT) AS x_bias,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS x_n_words,
    |    CAST(length(text) AS BIGINT) AS x_n_chars,
    |    CAST(len(list_filter(str_split(text, ' '),
    |      t -> t IN ($stopList))) AS BIGINT) AS x_n_stop,
    |    CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
    |      AS x_n_distinct
    |  FROM documents),
    |g AS (
    |  SELECT CAST(sum(y2 * x_bias) AS BIGINT) AS g2_bias,
    |    CAST(sum(y2 * x_n_words) AS BIGINT) AS g2_n_words,
    |    CAST(sum(y2 * x_n_chars) AS BIGINT) AS g2_n_chars,
    |    CAST(sum(y2 * x_n_stop) AS BIGINT) AS g2_n_stop,
    |    CAST(sum(y2 * x_n_distinct) AS BIGINT) AS g2_n_distinct,
    |    CAST(count(*) AS BIGINT) AS n_docs
    |  FROM f)
    |SELECT feature, g2_fp, n_docs FROM (
    |  SELECT 'bias' AS feature, g2_bias AS g2_fp, n_docs FROM g
    |  UNION ALL SELECT 'n_words', g2_n_words, n_docs FROM g
    |  UNION ALL SELECT 'n_chars', g2_n_chars, n_docs FROM g
    |  UNION ALL SELECT 'n_stop', g2_n_stop, n_docs FROM g
    |  UNION ALL SELECT 'n_distinct', g2_n_distinct, n_docs FROM g)
    |ORDER BY feature
    |""".stripMargin.trim
  }

  /** Normalized double features for scoring (O(1) ranges for
    * conditioning): bias, words/100, chars/1000,
    * stop_ratio, distinct_ratio. `w` must be a PRE-SPLIT words
    * column pinned behind an alias boundary (see [[lrStep0]]). */
  private def normFeatureCols(text: Column, w: Column): Seq[Column] = {
    val nw = size(w).cast("double")
    Seq(
      lit(1.0),
      nw / 100.0,
      length(text).cast("double") / 1000.0,
      size(filter(w, t =>
        t.isin(TextAnalysis.Markers.head._2.map(lit): _*)))
        .cast("double") / nw,
      size(array_distinct(w)).cast("double") / nw)
  }

  /** Fixed demo weights for the DECLARED `quality_lr_score` query —
    * literals, so the oracle replays the identical arithmetic (the
    * [[graft.Queries.BpeFixedRules]] pattern: learned weights are
    * corpus-dependent).
    * Order = [[FeatureNames]] over the normalized features. */
  val FixedScoreWeights: Seq[Double] = Seq(-1.5, 0.8, 0.2, 4.0, -0.5)

  /** Deployment scoring under FIXED literal weights, emitting the
    * LOGIT (w·x) rather than σ(w·x): σ is strictly monotone in the
    * logit, so ranking/thresholding semantics are identical, and the
    * logit is a short left-associated chain of single IEEE ops on
    * exact-rational inputs — bit-identical cross-engine with ZERO
    * transcendental calls (an exp-based σ is only ~1-ulp
    * reproducible, which a hash gate cannot tolerate at corpus
    * scale). `pred` = logit > 0 ⟺ σ > ½. Pure projection. */
  def scoreFixed(docs: DataFrame, id: Column, text: Column,
                 weights: Seq[Double] = FixedScoreWeights): DataFrame = {
    require(weights.length == FeatureNames.length)
    val pre = docs.select(id.as("doc_id"), text.as("__text"))
      .withColumn("__w", split(col("__text"), " "))
    val logit = normFeatureCols(col("__text"), col("__w")).zip(weights)
      .map { case (c, w) => c * lit(w) }.reduce(_ + _)
    pre.select(col("doc_id"), round(logit, 6).as("logit"),
      when(logit > 0.0, 1L).otherwise(0L).as("pred"))
  }

  /** The fixed-weight logit as a DuckDB expression over a frame with
    * columns (text, w, nw) — the SINGLE source of the SQL feature
    * definitions, composed by every oracle that scores documents
    * (a drift here would silently decouple [[scoreFixedOracleSql]]
    * from [[qualityAgreementOracleSql]]). Matches [[normFeatureCols]]
    * term for term: bias, words/100, chars/1000, stop_ratio,
    * distinct_ratio. */
  private def fixedLogitSql(weights: Seq[Double]): String = {
    val stops = TextAnalysis.Markers.head._2.map(x => s"'$x'")
      .mkString(", ")
    val xs = Seq(
      "1.0",
      "nw / 100.0",
      "CAST(length(text) AS DOUBLE) / 1000.0",
      s"CAST(len(list_filter(w, t -> t IN ($stops))) AS DOUBLE) / nw",
      "CAST(len(list_distinct(w)) AS DOUBLE) / nw")
    xs.zip(weights).map { case (x, wt) => s"($x) * $wt" }.mkString(" + ")
  }

  /** DuckDB twin of [[scoreFixed]] over `documents` — the same
    * left-associated chain over the same rational feature values. */
  def scoreFixedOracleSql(
      weights: Seq[Double] = FixedScoreWeights): String = {
    val logit = fixedLogitSql(weights)
    s"""
    |WITH b AS (
    |  SELECT doc_id, text, str_split(text, ' ') AS w,
    |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS nw
    |  FROM documents)
    |SELECT doc_id, round($logit, 6) AS logit,
    |  CAST(CASE WHEN $logit > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS pred
    |FROM b ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Calibration/reliability table for the fixed-weight quality
    * scorer: documents binned by logit into quarter-width bands
    * (band = floor(4·logit), clamped to ±8 so pathological outliers
    * cannot mint unbounded band keys), and per band the doc count,
    * the ACTUAL target rate (exact ppm) and the predicted-positive
    * count — the "when the scorer says 0.7, is it right 70% of the
    * time" audit that decides whether a threshold transfers to a new
    * corpus. Monotone target_ppm across bands = well-calibrated
    * ranking; a flat or inverted run is the classic symptom of a
    * corpus-shifted feature. All arithmetic engine-parity-safe: the
    * logit is the established bit-identical IEEE chain, ×4 and floor
    * are single exactly-rounded ops, and the ppm numerator folds in
    * decimal(38,0) (the cleared-overflow discipline). One projection
    * + one ≤17-row aggregate — corpus-scale safe by construction. */
  def qualityCalibration(docs: DataFrame, id: Column, text: Column,
                         target: Column,
                         weights: Seq[Double] = FixedScoreWeights)
      : DataFrame = {
    require(weights.length == FeatureNames.length)
    val pre = docs.select(id.as("doc_id"), target.as("__t"),
        text.as("__text"))
      .withColumn("__w", split(col("__text"), " "))
    val logit = normFeatureCols(col("__text"), col("__w")).zip(weights)
      .map { case (c, w) => c * lit(w) }.reduce(_ + _)
    pre.select(col("doc_id"), col("__t"), logit.as("__z"))
      .withColumn("band",
        greatest(lit(-8L), least(lit(8L), floor(col("__z") * 4))))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("__t"), 1L).otherwise(0L)).cast("long")
          .as("n_target"),
        sum(when(col("__z") > 0.0, 1L).otherwise(0L)).cast("long")
          .as("n_pred_pos"))
      .withColumn("target_ppm", expr(
        "(cast(n_target as decimal(38,0)) * 1000000) div n_docs")
        .cast("long"))
  }

  /** DuckDB twin of [[qualityCalibration]] over `documents`
    * (target = `lang = 'en'`). */
  def qualityCalibrationOracleSql(
      weights: Seq[Double] = FixedScoreWeights): String = {
    val logit = fixedLogitSql(weights)
    s"""
    |WITH b AS (
    |  SELECT doc_id, lang = 'en' AS t, text, str_split(text, ' ') AS w,
    |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS nw
    |  FROM documents),
    |z AS (SELECT doc_id, t, $logit AS z FROM b),
    |g AS (
    |  SELECT greatest(-8, least(8, CAST(floor(z * 4) AS BIGINT))) AS band,
    |    CAST(count(*) AS BIGINT) AS n_docs,
    |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
    |    CAST(sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
    |      AS n_pred_pos
    |  FROM z GROUP BY 1)
    |SELECT band, n_docs, n_target, n_pred_pos,
    |  CAST(CAST(n_target AS HUGEINT) * 1000000 // n_docs AS BIGINT)
    |    AS target_ppm
    |FROM g ORDER BY band
    |""".stripMargin.trim
  }

  /** Score documents with given weights: σ(w·x) as `lr_score` — a
    * pure projection. The reference the logit threshold of
    * [[scoreFixed]] (`pred` = logit > 0 ⟺ σ > ½) is checked against. */
  def scoreWith(docs: DataFrame, id: Column, text: Column,
                weights: Array[Double]): DataFrame = {
    require(weights.length == FeatureNames.length)
    val pre = docs.select(id.as("doc_id"), text.as("__text"))
      .withColumn("__w", split(col("__text"), " "))
    val z = normFeatureCols(col("__text"), col("__w")).zip(weights)
      .map { case (c, w) => c * lit(w) }.reduce(_ + _)
    pre.select(col("doc_id"),
      (lit(1.0) / (lit(1.0) + exp(-z))).as("lr_score"))
  }

  /** Quality-filter AGREEMENT matrix — the
    * [[graft.ext.Dedup.pairAgreement]] discipline applied to quality
    * signals: the 2×2 (gopher keep, LR keep) contingency table with
    * document and token mass per cell — how much, and how much
    * TRAINING DATA, the rule filter and the model filter disagree on.
    * The cross-validation a pipeline owner runs before trusting
    * either signal alone (the two filters fail differently: rules
    * miss fluent spam, a model inherits its training skew).
    *
    * SINGLE corpus pass: both signals are projections over the same
    * text, so they ride one [[TextAnalysis.gopherRulesCarry]] scan
    * with the logit computed on the carried text — never a doc_id
    * re-join of two scans (the gopherRejectStats reasoning). Output
    * is 4 rows. */
  def qualityAgreement(docs: DataFrame, id: Column, text: Column,
                       weights: Seq[Double] = FixedScoreWeights): DataFrame = {
    require(weights.length == FeatureNames.length)
    // words pinned behind an alias boundary — the lrStep0 rule: an
    // unaliased split would be inlined into every feature reference
    val g = TextAnalysis.gopherRulesCarry(docs, id, text,
        Seq(text -> "__txt"))
      .withColumn("__w", split(col("__txt"), " "))
    val logit = normFeatureCols(col("__txt"), col("__w")).zip(weights)
      .map { case (c, wt) => c * lit(wt) }.reduce(_ + _)
    g.withColumn("lr_keep", when(logit > 0.0, 1L).otherwise(0L))
      .withColumn("__tok", size(col("__w")).cast("long"))
      .groupBy(col("keep").as("gopher_keep"), col("lr_keep"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"))
  }

  /** DuckDB twin of [[qualityAgreement]] over `documents`. */
  def qualityAgreementOracleSql(
      weights: Seq[Double] = FixedScoreWeights): String = {
    val logit = fixedLogitSql(weights)
    s"""
    |WITH g AS (${TextAnalysis.gopherRulesOracleSql.replace("\n", "\n|  ")}),
    |b AS (
    |  SELECT doc_id, text, str_split(text, ' ') AS w,
    |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS nw
    |  FROM documents),
    |scored AS (
    |  SELECT g.keep AS gopher_keep,
    |    CAST(CASE WHEN $logit > 0.0 THEN 1 ELSE 0 END AS BIGINT)
    |      AS lr_keep,
    |    CAST(len(b.w) AS BIGINT) AS tok
    |  FROM g JOIN b USING (doc_id))
    |SELECT gopher_keep, lr_keep, CAST(count(*) AS BIGINT) AS n_docs,
    |  CAST(sum(tok) AS BIGINT) AS n_tokens
    |FROM scored GROUP BY 1, 2
    |ORDER BY gopher_keep, lr_keep
    |""".stripMargin.trim
  }
}
