package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix ranking by prefix doubling, and the exact
  * duplicated-window/duplicated-span queries built on it.
  *
  * The tile family (Dedup.dupSpanStats / chunkDupExact) detects
  * repeated text via ALIGNED fixed tiles: a duplicate is only seen if
  * it starts on a tile boundary, and the polyhash variant additionally
  * trusts a 61-bit hash (the exact variant string-verifies). This
  * module is the third rung: the suffix-array formulation of
  * Lee et al.'s exact-substring dedup ("Deduplicating Training Data
  * Makes Language Models Better", 2022), which finds a duplicate at
  * ANY offset, with NO hash-collision risk, using log2(L) rounds of
  * constant-width state:
  *
  *   - rank_1[i] = dense rank of the token at position i
  *   - rank_2p[i] = dense rank of (rank_p[i], rank_p[i+p]) — the
  *     Manber–Myers doubling step (SODA 1990), each round one keyed
  *     self-join plus one re-rank; after ceil(log2 p) rounds rank_p
  *     orders every suffix by its first p tokens
  *   - two positions carry equal L-token windows iff
  *     (rank_p[i], rank_p[i+L-p]) are equal, p = largest power of two
  *     <= L (the overlapping-halves trick: [i,i+p) ∪ [i+L-p,i+L)
  *     covers the window because 2p >= L)
  *
  * The distributed formulation follows Flick & Aluru, "Parallel
  * distributed memory construction of suffix and LCP arrays"
  * (SC '15): ranks live as one (doc, pos, rank) relation; the
  * doubling join shifts positions within a document (suffixes never
  * cross document boundaries — position i+p past the end contributes
  * the sentinel rank 0, so shorter suffixes order first exactly like
  * their shorter prefix strings); the re-rank is a global sorted
  * dense rank of the distinct (r1, r2) pairs.
  *
  * That dense rank is the scale-critical piece: Spark's
  * `dense_rank()` window over an unpartitioned ORDER BY is a
  * single-task sort. [[denseRank]] instead runs the Terasort pattern:
  * range-repartition the DISTINCT keys, take a per-partition
  * `row_number`, and add per-partition base offsets computed from a
  * (nPartitions)-row broadcast prefix sum — the same two-phase shape
  * as Corpus.seqPackGlobal. Rank values equal the global dense rank
  * regardless of where the sampled range boundaries fall, so the
  * result is deterministic even though `repartitionByRange` samples.
  *
  * Why this beats the obvious "hash every L-window" plan at 100 TB:
  * materializing L-token window strings multiplies the corpus L-fold
  * (50x at Lee et al.'s L=50), and rolling polyhashes avoid the
  * blowup only by accepting collisions. Doubling keeps per-position
  * state at two longs in every round, pays ceil(log2 L) keyed
  * shuffles (6 rounds at L=50), and its equality verdicts are exact.
  * Every shuffle is keyed on (doc_id, pos) or on the rank pair —
  * nothing is ever all-pairs, and each round's result is
  * `localCheckpoint`ed so the log-round lineage never replays.
  *
  * Tokenization contract: single-space-delimited tokens (Dedup.words)
  * with no empty tokens and no control characters, so token-sequence
  * lexicographic order coincides with the order of the
  * space-joined prefix string (space sorts below every token byte) —
  * which is exactly what the DuckDB oracle sorts by.
  */
object SuffixArray {

  /** (doc_id, pos, w) token positions; doc ids normalized to long. */
  private def tokens(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.cast("long").as("doc_id"),
      posexplode(Dedup.words(text)).as(Seq("pos", "w")))

  /** Global dense rank (1-based) of already-DISTINCT key rows, as a
    * (keys..., rank) map. Two-phase: range-repartition so partition i
    * holds strictly smaller keys than partition i+1, local
    * `row_number` per partition, then add per-partition bases from a
    * broadcast prefix sum over at most `numShufflePartitions` rows.
    * The per-partition window does re-shuffle on the partition id,
    * but every group is one already-range-bounded bucket — no
    * single-task global sort ever exists in the plan. */
  private[graft] def denseRank(distinctKeys: DataFrame,
                             keys: Seq[String]): DataFrame = {
    val kCols = keys.map(col)
    // two-phase core shared with Profiler.globalCumsum — see
    // [[Rank.withPidAndBase]] for the boundary-draw consistency
    // argument
    val withPb = Rank.withPidAndBase(distinctKeys, kCols, lit(1L))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(kCols: _*)
    withPb.withColumn("__li", row_number().over(wLocal))
      .select(kCols :+ (col("__base") + col("__li")).cast("long").as("rank"): _*)
  }

  /** Injective group ids for already-DISTINCT key rows — the
    * equality-only replacement for [[denseRank]] in the doubling
    * loop when no downstream consumer needs rank ORDER (the
    * duplicated-window census only tests equality). Skips the range
    * exchange, its sampling pass, and the per-bucket sort:
    * one distinct-aggregate, one id projection. Ids are 1-based so
    * the past-end sentinel 0 can never collide. The ids are only
    * stable within one materialization — which is exactly what the
    * per-round `localCheckpoint` in [[doubledIds]] guarantees (and
    * why that checkpoint is load-bearing, not just lineage hygiene:
    * the same id relation is consumed twice per round). */
  private def groupIds(distinctKeys: DataFrame,
                       keys: Seq[String]): DataFrame =
    distinctKeys.withColumn("rank", monotonically_increasing_id() + 1)

  /** [[prefixRanks]] with order-free group ids: rank values are
    * arbitrary injective labels, but rank EQUALITY still witnesses
    * p-token prefix equality exactly. ~2 exchanges cheaper per
    * doubling round than the ordered path. */
  private def doubledIds(docs: DataFrame, id: Column, text: Column,
                         p: Int): DataFrame =
    doubleUp(docs, id, text, p, groupIds)

  /** (doc_id, pos, rank): rank orders every suffix by its first
    * `p` tokens (p a power of two); suffixes shorter than p rank as
    * their full (shorter) prefix, below any longer extension. */
  def prefixRanks(docs: DataFrame, id: Column, text: Column,
                  p: Int): DataFrame =
    doubleUp(docs, id, text, p, denseRank)

  private def doubleUp(docs: DataFrame, id: Column, text: Column, p: Int,
      rerank: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    require(p >= 1 && (p & (p - 1)) == 0, s"p must be a power of two, got $p")
    val toks = tokens(docs, id, text)
    val wordRank = rerank(toks.select("w").distinct(), Seq("w"))
    // checkpoint before the loop: round 1 consumes t twice (shifted
    // and unshifted), and group ids are only stable once materialized
    var t = Pin.pin(toks.join(wordRank, "w")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("rank")))
    var width = 1
    while (width < p) {
      val nxt = t.select(col("doc_id"), (col("pos") - width).as("pos"),
        col("rank").as("__r2"))
      val keyed = t.withColumnRenamed("rank", "__r1")
        .join(nxt, Seq("doc_id", "pos"), "left")
        .na.fill(0L, Seq("__r2"))
      val rankMap = rerank(keyed.select("__r1", "__r2").distinct(),
        Seq("__r1", "__r2"))
      t = Pin.pin(keyed.join(rankMap, Seq("__r1", "__r2"))
        .select("doc_id", "pos", "rank"))
      width *= 2
    }
    t
  }

  /** DuckDB twin of [[prefixRanks]] over `documents`: the textbook
    * spec — dense_rank over the space-joined p-token prefix string —
    * that the doubling rounds must reproduce exactly. */
  def prefixRanksOracleSql(p: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |        CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, w
    |      FROM w),
    |k AS (SELECT doc_id, pos,
    |        array_to_string(w[pos + 1 : pos + $p], ' ') AS pfx
    |      FROM p)
    |SELECT doc_id, pos,
    |  CAST(dense_rank() OVER (ORDER BY pfx) AS BIGINT) AS rank
    |FROM k ORDER BY doc_id, pos
    |""".stripMargin.trim

  /** Positions whose `l`-token window occurs more than once anywhere
    * in the corpus (including elsewhere in the same document):
    * (doc_id, pos, n_occ) with n_occ the corpus-wide occurrence
    * count. Exact and alignment-free — the suffix-rank equality
    * witness, not a hash. */
  def dupWindows(docs: DataFrame, id: Column, text: Column,
                 l: Int): DataFrame = {
    require(l >= 1, s"window length must be positive, got $l")
    val p = Integer.highestOneBit(l)
    val r = doubledIds(docs, id, text, p)
    val keyed =
      if (l == p)
        r.select(col("doc_id"), col("pos"),
          col("rank").as("__ra"), col("rank").as("__rb"))
      else {
        // (rank[i], rank[i + l - p]) with 2p >= l covers [i, i+l)
        val shifted = r.select(col("doc_id"),
          (col("pos") - (l - p)).as("pos"), col("rank").as("__rb"))
        r.withColumnRenamed("rank", "__ra").join(shifted, Seq("doc_id", "pos"))
      }
    val lens = docs.select(id.cast("long").as("doc_id"),
      size(Dedup.words(text)).cast("long").as("__len"))
    val full = keyed.join(lens, "doc_id").filter(col("pos") + l <= col("__len"))
    val wKey = Window.partitionBy(col("__ra"), col("__rb"))
    full.withColumn("n_occ", count(lit(1)).over(wKey))
      .filter(col("n_occ") > 1)
      .select(col("doc_id"), col("pos"), col("n_occ").cast("long").as("n_occ"))
  }

  /** DuckDB twin of [[dupWindows]] over `documents` — the L-fold
    * window-string materialization this module exists to avoid. */
  def dupWindowsOracleSql(l: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |        CAST(unnest(range(0, greatest(len(w) - $l + 1, 0))) AS BIGINT)
    |          AS pos, w
    |      FROM w),
    |k AS (SELECT doc_id, pos,
    |        array_to_string(w[pos + 1 : pos + $l], ' ') AS win
    |      FROM p),
    |g AS (SELECT win, CAST(count(*) AS BIGINT) AS n_occ
    |      FROM k GROUP BY win)
    |SELECT k.doc_id, k.pos, g.n_occ
    |FROM k JOIN g USING (win)
    |WHERE g.n_occ > 1 ORDER BY doc_id, pos
    |""".stripMargin.trim

  /** Maximal duplicated spans: consecutive duplicated window starts
    * merged per document (gaps-and-islands), as (doc_id, span_start,
    * n_windows, span_tokens) — span_tokens = covered token count
    * including the last window's tail. The alignment-free twin of
    * Dedup.dupSpanMerge. */
  def dupSpans(docs: DataFrame, id: Column, text: Column,
               l: Int): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupWindows(docs, id, text, l)
      .withColumn("__isl", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).cast("long").as("n_windows"),
        (max(col("pos")) - min(col("pos")) + lit(l.toLong)).as("span_tokens"))
      .select("doc_id", "span_start", "n_windows", "span_tokens")
  }

  /** The scrub decision under the alignment-free witness: every
    * occurrence of a duplicated `l`-window except the group's
    * canonical one (minimal (doc_id, pos)) marks its `l` covered
    * token positions for removal; a token survives unless some
    * non-canonical occurrence covers it. Per-doc census
    * (doc_id, n_tokens, n_dropped) — n_dropped counts DISTINCT
    * covered positions, so overlapping occurrences never
    * double-count. The canonical occurrence always survives intact
    * unless an overlapping different duplicated window claims part
    * of it (the deterministic tie-break every scrub needs; same
    * contract family as chunkScrub's canonical-first rule). */
  def scrubStats(docs: DataFrame, id: Column, text: Column,
                 l: Int): DataFrame = {
    val p = Integer.highestOneBit(l)
    val r = doubledIds(docs, id, text, p)
    val keyed =
      if (l == p)
        r.select(col("doc_id"), col("pos"),
          col("rank").as("__ra"), col("rank").as("__rb"))
      else {
        val shifted = r.select(col("doc_id"),
          (col("pos") - (l - p)).as("pos"), col("rank").as("__rb"))
        r.withColumnRenamed("rank", "__ra").join(shifted, Seq("doc_id", "pos"))
      }
    val lens = docs.select(id.cast("long").as("doc_id"),
      size(Dedup.words(text)).cast("long").as("n_tokens"))
    val full = keyed.join(lens.select(col("doc_id"),
        col("n_tokens").as("__len")), "doc_id")
      .filter(col("pos") + l <= col("__len"))
    // group census + canonical occurrence in one key-partitioned window
    val wKey = Window.partitionBy(col("__ra"), col("__rb"))
    val marked = full
      .withColumn("__n_occ", count(lit(1)).over(wKey))
      .withColumn("__canon",
        min(struct(col("doc_id"), col("pos"))).over(wKey))
      .filter(col("__n_occ") > 1 &&
        !(col("doc_id") === col("__canon.doc_id") &&
          col("pos") === col("__canon.pos")))
    val dropped = marked
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (l - 1))).as("__tok"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_dropped"))
    lens.join(dropped, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .select(col("doc_id"), col("n_tokens"), col("n_dropped"))
  }

  /** DuckDB twin of [[scrubStats]] over `documents`. */
  def scrubStatsOracleSql(l: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |lens AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |        CAST(len(w) AS BIGINT) AS n_tokens FROM w),
    |p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |        CAST(unnest(range(0, greatest(len(w) - $l + 1, 0))) AS BIGINT)
    |          AS pos, w
    |      FROM w),
    |k AS (SELECT doc_id, pos,
    |        array_to_string(w[pos + 1 : pos + $l], ' ') AS win
    |      FROM p),
    |g AS (SELECT win, count(*) AS n_occ,
    |        min(struct_pack(d := doc_id, p := pos)) AS canon
    |      FROM k GROUP BY win),
    |marked AS (SELECT k.doc_id, k.pos FROM k JOIN g USING (win)
    |      WHERE g.n_occ > 1
    |        AND NOT (k.doc_id = g.canon.d AND k.pos = g.canon.p)),
    |cov AS (SELECT DISTINCT doc_id,
    |        pos + unnest(range(0, $l)) AS tok
    |      FROM marked),
    |drops AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped
    |      FROM cov GROUP BY doc_id)
    |SELECT lens.doc_id, lens.n_tokens,
    |  coalesce(drops.n_dropped, 0) AS n_dropped
    |FROM lens LEFT JOIN drops USING (doc_id)
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** DuckDB twin of [[dupSpans]] over `documents`. */
  def dupSpansOracleSql(l: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |        CAST(unnest(range(0, greatest(len(w) - $l + 1, 0))) AS BIGINT)
    |          AS pos, w
    |      FROM w),
    |k AS (SELECT doc_id, pos,
    |        array_to_string(w[pos + 1 : pos + $l], ' ') AS win
    |      FROM p),
    |g AS (SELECT win, count(*) AS n_occ FROM k GROUP BY win),
    |d AS (SELECT k.doc_id, k.pos FROM k JOIN g USING (win) WHERE g.n_occ > 1),
    |i AS (SELECT doc_id, pos,
    |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    |      FROM d)
    |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
    |  CAST(count(*) AS BIGINT) AS n_windows,
    |  CAST(max(pos) - min(pos) + $l AS BIGINT) AS span_tokens
    |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start
    |""".stripMargin.trim
}
