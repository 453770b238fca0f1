package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Corpus-preparation operators for training-data pipelines (extension
  * surface, SURVEY §7.6): deterministic dataset splitting, vocabulary
  * statistics, per-document salient terms, and length quantiles. No
  * reference analog; these extend the warehouse toward the
  * "large-scale training-data pipeline" north star.
  *
  * Determinism rules: split assignment hashes the document id with the
  * engine-portable universal hash (pure int64 arithmetic — identical
  * in DuckDB, reshuffling-proof and re-runnable, unlike `rand()` which
  * differs per run AND per engine); term scores are integer-division
  * ratios, never floating logs, so rankings cannot drift across
  * engines by one ulp.
  */
object Corpus {

  /** Deterministic train/val/test assignment: bucket = h(id) mod 100,
    * split boundaries at `trainPct` and `trainPct + valPct`. Keyless
    * and stateless — any worker can re-derive the split for any doc,
    * so at 100 TB this is a projection, not a join against a split
    * table. */
  def sampleSplit(docs: DataFrame, id: Column, trainPct: Int = 80,
                  valPct: Int = 10): DataFrame = {
    // overflow-safe hash bucket: see Hashing.permBucket's scaladoc
    val bucket = Hashing.permBucket(id, 0, 100)
    docs.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** DuckDB twin of [[sampleSplit]]'s bucket/split columns over an id
    * SQL expression (sign normalization per
    * [[graft.functions.Hashing.permBucketSql]]). */
  def sampleSplitSql(id: String, trainPct: Int = 80,
                     valPct: Int = 10): (String, String) = {
    val bucket = Hashing.permBucketSql(id, 0, 100)
    (bucket,
      s"CASE WHEN $bucket < $trainPct THEN 'train' " +
        s"WHEN $bucket < ${trainPct + valPct} THEN 'val' ELSE 'test' END")
  }

  /** Stratified deterministic sampling: per-stratum keep rates in
    * permille, applied by hashing the document id — the corpus
    * rebalancing step (downsample the dominant language/source,
    * keep the rest) of a training-data pipeline. Like [[sampleSplit]]
    * this is a stateless projection: no per-stratum counting pass, no
    * join, any worker re-derives any doc's fate. Uses a DIFFERENT
    * permutation than [[sampleSplit]] so sample membership and split
    * assignment are independent (hashing both from Perms.head would
    * correlate them: every 'test' doc would also survive sampling
    * iff rate > 90%).
    *
    * `rates` maps stratum value -> keep permille; anything unlisted
    * keeps `defaultPermille`. The rate lookup is a folded CASE
    * expression, not a join — the rate table is part of the plan, so
    * nothing is shuffled or broadcast at any scale. */
  def stratifiedSample(docs: DataFrame, id: Column, stratum: Column,
                       rates: Seq[(String, Int)],
                       defaultPermille: Int = 1000): DataFrame = {
    val bucket = Hashing.permBucket(id, 1, 1000)
    val rate = rates.foldRight(lit(defaultPermille): Column) {
      case ((k, permille), acc) =>
        when(stratum === k, lit(permille)).otherwise(acc)
    }
    docs.withColumn("bucket1k", bucket)
      .withColumn("rate_permille", rate.cast("long"))
      .filter(col("bucket1k") < col("rate_permille"))
  }

  /** DuckDB twin of [[stratifiedSample]]'s (bucket1k, rate_permille)
    * columns; compose as `WHERE bucket1k < rate_permille`. */
  def stratifiedSampleSql(id: String, stratum: String,
                          rates: Seq[(String, Int)],
                          defaultPermille: Int = 1000): (String, String) = {
    val bucket = Hashing.permBucketSql(id, 1, 1000)
    val rate = rates.foldRight(s"$defaultPermille") {
      case ((k, permille), acc) =>
        s"CASE WHEN $stratum = '$k' THEN $permille ELSE $acc END"
    }
    (bucket, s"CAST($rate AS BIGINT)")
  }

  /** Corpus vocabulary: top-k tokens by total occurrences (ties broken
    * by token string), with document frequency alongside. Two stacked
    * hash aggregations: per-(token, doc) counts first (map-side partial
    * combine collapses each document's repeats before the shuffle),
    * then per-token totals where document frequency is a plain
    * `count(1)` over the already-distinct (token, doc) rows — no
    * `countDistinct`, whose Expand-based rewrite doubles the exploded
    * token stream and shuffles raw (token, doc) pairs. The top-k is a
    * TakeOrdered, never a full sort. */
  def vocabTopK(docs: DataFrame, id: Column, text: Column,
                k: Int): DataFrame = {
    val perDoc = docs.select(id.as("doc_id"),
        explode(Dedup.words(text)).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("__tf"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("__tf")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
  }

  def vocabTopKOracleSql(k: Int): String =
    s"""
    |SELECT token, count(*) AS n_occurrences,
    |  count(DISTINCT doc_id) AS n_docs
    |FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
    |      FROM documents)
    |GROUP BY token
    |ORDER BY n_occurrences DESC, token
    |LIMIT $k
    |""".stripMargin.trim

  /** Count-Min Sketch heavy-hitter audit (Cormode & Muthukrishnan
    * 2005): estimate the top-k tokens' frequencies from a
    * `depth`×`width` CMS and report them NEXT TO the exact counts —
    * (token, n_exact, n_est), n_est ≥ n_exact always (each cell
    * upper-bounds every token hashed into it; the min over `depth`
    * independent rows is still an upper bound), with the overshoot =
    * the collision mass the audit exists to expose for a given
    * (depth, width) sizing.
    *
    * Scale posture: the sketch build is the whole point — one pass
    * over the token stream exploding `depth` (row, cell) probes,
    * reduced by ONE map-side-combining agg into depth·width cells of
    * FIXED state (4096 longs here), which is what replaces the
    * vocab-sized exact agg at 100 TB (the exact leg below exists only
    * because an audit needs ground truth; production keeps the sketch
    * + a heavy-hitter heap). Probing joins the k·depth probe rows
    * broadcast against the cell table. Hash rows are the repo's
    * shared minhash permutation family over the compiled polyhash. */
  /** Token-budget carve: fill each stratum (source) with docs in
    * deterministic hash order until `budget` tokens are reached —
    * the mixture-execution shape practitioners actually run ("x
    * billion tokens of source A"), complementing [[mixSample]]'s
    * rate-based thinning. Greedy fill: a doc is kept iff the tokens
    * BEFORE it (hash order, id tiebreak) are under budget, so the
    * last kept doc may overshoot — the convention that never
    * undershoots a requested budget and needs no look-ahead. Output
    * per doc: (doc_id, source, n_tokens, cum_before, kept).
    *
    * Shape: one projection (token count + overflow-safe perm hash,
    * the [[Hashing.permBucket]] family at index 7 — independent of
    * the split/sample/shard assignments) and ONE stratum-keyed
    * window cumsum. Deterministic and idempotent; at 100 TB the
    * stratum partition is the only shuffle, and a hot stratum is a
    * single sorted partition — the same posture as every sampling
    * op here (strata are sources, bounded and known). */
  def tokenBudgetSample(docs: DataFrame, id: Column, text: Column,
                        stratum: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val h = Hashing.permBucket(id, 7, 1000000)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(id.as("doc_id"), stratum.as("source"),
        size(Dedup.words(text)).cast("long").as("n_tokens"),
        h.as("__h"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_before"), (col("cum_before") < budget).as("kept"))
  }

  /** Priority sampling (Duffield/Lund/Thorup 2007 — public):
    * a fixed-size sample where inclusion probability is proportional
    * to document WEIGHT (token count) — the unbiased way to take "n
    * documents that represent the token mass", where a uniform
    * sample over-represents short docs. Priority q_i = w_i/u_i with
    * u_i uniform; keep the n largest q. Here u_i is the
    * deterministic hash bucket (reproducible, engine-portable, no
    * rand()) and the comparison key is inverted into exact integer
    * space: key_i = ((h_i+1)·10⁶) div w_i, ascending — monotone in
    * u_i/w_i, so the kept set is exactly the top-n by q under this
    * u. (h+1) ≤ 10⁶ keeps the numerator ≤ 10¹² — no overflow.
    *
    * Scale shape: one stateless projection (hash + token count, any
    * worker re-derives any doc) and one k-bounded TakeOrdered — no
    * shuffle of the corpus, no per-stratum pass; the 100 TB cost is
    * the scan. */
  def prioritySample(docs: DataFrame, id: Column, text: Column,
                     n: Int): DataFrame = {
    val h = Hashing.permBucket(id, 5, 1000000)
    docs.select(id.as("doc_id"),
        size(Dedup.words(text)).cast("long").as("weight"),
        h.as("__h"))
      .filter(col("weight") > 0)
      .withColumn("priority",
        expr("((__h + 1) * 1000000) div weight").cast("long"))
      .select(col("doc_id"), col("weight"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(n)
  }

  /** DuckDB twin of [[prioritySample]] over `documents`. */
  def prioritySampleOracleSql(n: Int): String =
    s"""
    |WITH t AS (
    |  SELECT doc_id,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS weight,
    |    ${Hashing.permBucketSql("doc_id", 5, 1000000)} AS h
    |  FROM documents),
    |p AS (
    |  SELECT doc_id, weight,
    |    CAST(((h + 1) * 1000000) // weight AS BIGINT) AS priority
    |  FROM t WHERE weight > 0)
    |SELECT doc_id, weight, priority
    |FROM p ORDER BY priority, doc_id LIMIT $n
    |""".stripMargin.trim

  /** Token-mass-weighted length quantiles: the smallest doc length L
    * such that docs of length ≤ L hold at least p of ALL TOKENS —
    * "half the training tokens live in docs shorter than X", the
    * number that actually sizes sequence-length / packing decisions
    * (the unweighted median answers a different question: half the
    * DOCS are shorter than X, which over-weights shorts).
    *
    * Shape: lengths collapse to one row per DISTINCT length (one
    * hash agg — the only full-data pass), a cumulative window over
    * that |distinct lengths|-bounded spine (≤ max doc length rows at
    * any corpus size), then each requested p picks its fence by
    * `cum·10⁶ ≥ p·total` in decimal(38,0) — exact at 10¹³+ tokens
    * where a long×10⁶ would overflow. */
  def weightedQuantiles(docs: DataFrame, text: Column,
                        pPpm: Seq[Long]): DataFrame = {
    val byLen = docs
      .select(size(Dedup.words(text)).cast("long").as("len"))
      .filter(col("len") > 0)
      .groupBy("len").agg(sum(col("len")).as("mass"))
    val wCum = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byLen
      .withColumn("cum_mass", sum(col("mass")).over(wCum))
      .withColumn("total_mass",
        sum(col("mass")).over(Window.partitionBy()))
    val fences = cum
      .select(col("len"), col("cum_mass"), col("total_mass"),
        explode(array(pPpm.map(lit): _*)).as("p_ppm"))
      .filter(expr("cast(cum_mass as decimal(38,0)) * 1000000 >= " +
        "p_ppm * cast(total_mass as decimal(38,0))"))
      .groupBy("p_ppm").agg(min(col("len")).as("len"))
    fences.join(cum.select(col("len"), col("cum_mass"),
        col("total_mass")), Seq("len"))
      .select(col("p_ppm").cast("long").as("p_ppm"), col("len"),
        expr("cast(cast(cum_mass as decimal(38,0)) * 1000000 div " +
          "cast(total_mass as decimal(38,0)) as long)").as("cum_ppm"))
      .orderBy("p_ppm")
  }

  /** DuckDB twin of [[weightedQuantiles]] over `documents`. */
  def weightedQuantilesOracleSql(pPpm: Seq[Long]): String =
    s"""
    |WITH byl AS (
    |  SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS len,
    |    sum(CAST(len(str_split(text, ' ')) AS BIGINT)) AS mass
    |  FROM documents
    |  WHERE CAST(len(str_split(text, ' ')) AS BIGINT) > 0
    |  GROUP BY 1),
    |c AS (
    |  SELECT len,
    |    sum(mass) OVER (ORDER BY len ROWS UNBOUNDED PRECEDING)
    |      AS cum_mass,
    |    sum(mass) OVER () AS total_mass
    |  FROM byl),
    |p AS (SELECT unnest([${pPpm.mkString(", ")}]) AS p_ppm),
    |f AS (
    |  SELECT p.p_ppm, min(c.len) AS len
    |  FROM c CROSS JOIN p
    |  WHERE c.cum_mass * 1000000 >= p.p_ppm * c.total_mass
    |  GROUP BY p.p_ppm)
    |SELECT CAST(f.p_ppm AS BIGINT) AS p_ppm, f.len,
    |  CAST(c.cum_mass * 1000000 // c.total_mass AS BIGINT) AS cum_ppm
    |FROM f JOIN c ON c.len = f.len
    |ORDER BY p_ppm
    |""".stripMargin.trim

  /** Distinctive vocabulary per source: the top-k tokens whose
    * in-source rate most exceeds their corpus rate — lift_ppm =
    * (tf_s·T·10⁶) div (tf·T_s), the corpus-exploration "what makes
    * this domain different" table (and the eyeball check on any
    * domain-mixture decision). The [[tfidfTopTerms]] per-DOC shape
    * lifted to the source level, with a min-support floor so one-off
    * typos don't top the list. Numerator folds in decimal(38,0):
    * tf_s·T·10⁶ passes 10³² at corpus scale — bare long wraps
    * silently (the basketLift lesson). Two token aggs, one source
    * agg, one broadcast-size join, a per-source top-k window. */
  def sourceTerms(docs: DataFrame, source: Column, text: Column,
                  k: Int, minTf: Long): DataFrame = {
    val toks = docs.select(source.as("src"),
        explode(Dedup.words(text)).as("token"))
    val tfS = toks.groupBy("src", "token").agg(count(lit(1)).as("tf_s"))
    val tf = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val tS = toks.groupBy("src").agg(count(lit(1)).as("t_s"))
    val wAll = Window.partitionBy()
    val withTotal = tS.withColumn("t", sum(col("t_s")).over(wAll))
    val scored = tfS.filter(col("tf_s") >= minTf)
      .join(tf, "token")
      .join(withTotal, "src")
      .withColumn("lift_ppm",
        expr("cast(tf_s as decimal(38,0)) * t * 1000000 div " +
          "(cast(tf as decimal(38,0)) * t_s)").cast("long"))
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("lift_ppm").desc, col("token"))
    scored.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as("source"), col("rank"), col("token"),
        col("tf_s").cast("long").as("tf_source"),
        col("tf").cast("long").as("tf_corpus"), col("lift_ppm"))
      .orderBy("source", "rank")
  }

  /** DuckDB twin of [[sourceTerms]] over `documents`. */
  def sourceTermsOracleSql(k: Int, minTf: Long): String =
    s"""
    |WITH toks AS (
    |  SELECT source AS src, unnest(str_split(text, ' ')) AS token
    |  FROM documents),
    |tfs AS (SELECT src, token, count(*) AS tf_s FROM toks GROUP BY 1, 2),
    |tf AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
    |ts AS (SELECT src, count(*) AS t_s,
    |         sum(count(*)) OVER () AS t FROM toks GROUP BY 1),
    |scored AS (
    |  SELECT tfs.src, tfs.token, tfs.tf_s, tf.tf,
    |    CAST(CAST(tfs.tf_s AS HUGEINT) * ts.t * 1000000
    |      // (CAST(tf.tf AS HUGEINT) * ts.t_s) AS BIGINT) AS lift_ppm
    |  FROM tfs JOIN tf USING (token) JOIN ts ON ts.src = tfs.src
    |  WHERE tfs.tf_s >= $minTf),
    |ranked AS (
    |  SELECT *, CAST(row_number() OVER (PARTITION BY src
    |    ORDER BY lift_ppm DESC, token) AS BIGINT) AS rank
    |  FROM scored)
    |SELECT src AS source, rank, token,
    |  CAST(tf_s AS BIGINT) AS tf_source, CAST(tf AS BIGINT) AS tf_corpus,
    |  lift_ppm
    |FROM ranked WHERE rank <= $k
    |ORDER BY source, rank
    |""".stripMargin.trim

  /** Vocabulary growth (Heaps'-law) curve: cumulative distinct types
    * vs cumulative tokens along the doc_id order, sampled at fixed
    * doc-id buckets — the "is the corpus still teaching the
    * tokenizer new words" read that decides when vocab training has
    * seen enough data, and the empirical Heaps exponent check
    * (types ~ tokens^β, β≈0.5 for natural text; β near 1 means
    * boilerplate-free novelty, near 0 means the corpus has
    * saturated). A type's contribution is its FIRST-SEEN bucket
    * (min doc_id per token — one hash agg), so the cumulative
    * distinct count needs no giant distinct-per-prefix recompute:
    * cum_types(bucket) = Σ new types per bucket, a window over the
    * |buckets|-bounded spine. Two token-keyed aggs + two bounded
    * windows. */
  def vocabGrowth(docs: DataFrame, id: Column, text: Column,
                  bucketDocs: Long): DataFrame = {
    val toks = docs.select(id.cast("long").as("doc_id"),
      explode(Dedup.words(text)).as("token"))
    val newTypes = toks.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy((col("first_doc") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val tokCounts = toks
      .groupBy((col("doc_id") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts.join(newTypes, Seq("bucket"), "left")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types",
        sum(coalesce(col("n_new_types"), lit(0L))).over(w))
      .select(col("bucket"), col("cum_tokens").cast("long"),
        col("cum_types").cast("long"))
      .orderBy("bucket")
  }

  /** DuckDB twin of [[vocabGrowth]] over `documents`. */
  def vocabGrowthOracleSql(bucketDocs: Long): String =
    s"""
    |WITH toks AS (
    |  SELECT doc_id, unnest(str_split(text, ' ')) AS token
    |  FROM documents),
    |ft AS (SELECT token, min(doc_id) AS first_doc FROM toks
    |       GROUP BY token),
    |nt AS (SELECT first_doc // $bucketDocs AS bucket, count(*) AS n
    |       FROM ft GROUP BY 1),
    |tc AS (
    |  SELECT doc_id // $bucketDocs AS bucket, count(*) AS n
    |  FROM toks GROUP BY 1)
    |SELECT CAST(tc.bucket AS BIGINT) AS bucket,
    |  CAST(sum(tc.n) OVER (ORDER BY tc.bucket
    |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
    |  CAST(sum(coalesce(nt.n, 0)) OVER (ORDER BY tc.bucket
    |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
    |FROM tc LEFT JOIN nt ON nt.bucket = tc.bucket
    |ORDER BY bucket
    |""".stripMargin.trim

  /** DuckDB twin of [[tokenBudgetSample]] over `documents`. */
  def tokenBudgetSampleOracleSql(budget: Long): String =
    s"""
    |WITH t AS (
    |  SELECT doc_id, source,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    |    ${Hashing.permBucketSql("doc_id", 7, 1000000)} AS h
    |  FROM documents),
    |c AS (
    |  SELECT doc_id, source, n_tokens,
    |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
    |      ORDER BY h, doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    |      AS BIGINT) AS cum_before
    |  FROM t)
    |SELECT doc_id, source, n_tokens, cum_before,
    |  cum_before < $budget AS kept
    |FROM c ORDER BY doc_id
    |""".stripMargin.trim

  /** The depth cell positions of hash `h` — one per sketch row. */
  private def cmsProbes(h: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(r =>
      pmod(Hashing.perm(h, r), lit(width.toLong))): _*)

  /** The CMS itself: (r, cell, cnt) — depth·width rows of fixed
    * state from one map-side-combining pass over the token stream.
    * Sketches are MERGEABLE (cell-wise addition — CorpusSpec pins
    * sketch(A ∪ B) = sketch(A) ⊕ sketch(B)), which is what makes the
    * build embarrassingly parallel: each shard/day sketches locally
    * and the combine is a depth·width-row reduce. */
  def cmsCells(docs: DataFrame, text: Column, depth: Int = 4,
               width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= Hashing.Perms.length,
      s"depth must be in [1, ${Hashing.Perms.length}]")
    require(width >= 2, "width must be at least 2")
    docs.select(explode(Dedup.words(text)).as("token"))
      .withColumn("h", Hashing.polyHash(col("token")))
      .select(posexplode(cmsProbes(col("h"), depth, width)))
      .groupBy(col("pos").as("r"), col("col").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  def cmsTopkAudit(docs: DataFrame, text: Column, k: Int,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val toks = docs.select(explode(Dedup.words(text)).as("token"))
      .withColumn("h", Hashing.polyHash(col("token")))
    val cells = cmsCells(docs, text, depth, width)
    val exact = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token").asc)
      .limit(k)
    val probed = exact
      .withColumn("h", Hashing.polyHash(col("token")))
      .select(col("token"), col("n_exact"),
        posexplode(cmsProbes(col("h"), depth, width)))
      .select(col("token"), col("n_exact"), col("pos").as("r"),
        col("col").as("cell"))
    cells.join(broadcast(probed), Seq("r", "cell"))
      .groupBy(col("token"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
  }

  /** DuckDB twin of [[cmsTopkAudit]] over `documents`. */
  def cmsTopkAuditOracleSql(k: Int, depth: Int = 4,
                            width: Int = 1024): String = {
    val cellLegs = (0 until depth).map(r =>
      s"""SELECT $r AS r, ${Hashing.permSql("hh", r)} % $width AS cell,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM h GROUP BY cell""".stripMargin).mkString("\nUNION ALL\n")
    val probeLegs = (0 until depth).map(r =>
      s"SELECT token, n_exact, $r AS r, " +
        s"${Hashing.permSql("hh", r)} % $width AS cell FROM exact")
      .mkString("\nUNION ALL\n")
    s"""
    |WITH toks AS (SELECT unnest(str_split(text, ' ')) AS token
    |              FROM documents),
    |h AS (SELECT token, ${Hashing.polyHashSql("token")} AS hh FROM toks),
    |cells AS ($cellLegs),
    |exact AS (
    |  SELECT token, CAST(count(*) AS BIGINT) AS n_exact,
    |         ${Hashing.polyHashSql("token")} AS hh
    |  FROM toks GROUP BY token
    |  ORDER BY n_exact DESC, token LIMIT $k),
    |probes AS ($probeLegs)
    |SELECT p.token, p.n_exact, min(c.cnt) AS n_est
    |FROM probes p JOIN cells c ON c.r = p.r AND c.cell = p.cell
    |GROUP BY p.token, p.n_exact
    |ORDER BY n_exact DESC, token
    |""".stripMargin.trim
  }

  /** Per-document top-k salient terms by a tf-idf-shaped score.
    * Score = (tf · 10^6) div df — integer division, monotone in
    * tf/df (the corpus-size factor of true tf-idf is constant per
    * ranking and so dropped). Floating `ln` is deliberately avoided:
    * libm results differ across engines in the last ulp, which flips
    * ranks on near-ties; integer ratios cannot drift. Two keyed
    * aggregations (term frequency, document frequency) and one window
    * — each shuffles on its natural key. */
  def tfidfTopTerms(docs: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    val tf = docs.select(id.as("doc_id"),
        explode(Dedup.words(text)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "token")
      .withColumn("score_q", expr("(tf * 1000000) div df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score_q"))
  }

  def tfidfTopTermsOracleSql(k: Int): String =
    s"""
    |WITH tf AS (
    |  SELECT doc_id, token, count(*) AS tf
    |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
    |        FROM documents)
    |  GROUP BY doc_id, token),
    |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    |scored AS (
    |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
    |    (tf.tf * 1000000) // df.df AS score_q
    |  FROM tf JOIN df USING (token)),
    |ranked AS (
    |  SELECT doc_id, token, tf, df, score_q,
    |    CAST(row_number() OVER (PARTITION BY doc_id
    |      ORDER BY score_q DESC, token) AS BIGINT) AS rank
    |  FROM scored)
    |SELECT doc_id, rank, token, tf, df, score_q
    |FROM ranked WHERE rank <= $k
    |ORDER BY doc_id, rank
    |""".stripMargin.trim

  /** Benchmark-contamination scan: for every corpus doc, the fraction
    * of its distinct word `n`-grams that also occur anywhere in a
    * held-out evaluation set — the train/test leakage check a corpus
    * must pass before the eval numbers mean anything (the standard
    * published recipe is exactly this n-gram-overlap form).
    *
    * Shape: distinct (doc, gram) on the corpus side, distinct grams on
    * the (much smaller) eval side, a broadcast membership join on gram,
    * one aggregation for both counts. Everything shuffles on the
    * gram / doc_id keys — never doc×doc pairs. At 100 TB this is the
    * scalable formulation: cost tracks corpus gram volume, not
    * corpus × eval.
    *
    * The source is deliberately scanned once per side (corpus and
    * eval are two branches of the DAG; Spark shares no scan across
    * branches short of materializing the full gram stream, which at
    * corpus scale costs more than the second scan). The eval predicate
    * pushes into both scans, so the eval-side scan prunes to the
    * slice — and in a real pipeline the eval set is its own small
    * table, making the question moot.
    *
    * Returns docs with `contamination_frac >= minFrac` (matched and
    * total gram counts alongside, so the caller can re-threshold). */
  def contamination(docs: DataFrame, id: Column, text: Column,
                    isEval: Column, n: Int = 3,
                    minFrac: Double = 0.1): DataFrame = {
    val corpusGrams = Dedup.explodedGrams(docs.filter(!isEval), id, text, n)
    val evalGrams = Dedup.explodedGrams(docs.filter(isEval), id, text, n)
      .select("gram").distinct().withColumn("__hit", lit(1))
    // one explode of the corpus: the membership probe is a left join
    // against the (broadcast) eval grams and both counts come out of
    // the same aggregation — `count(__hit)` skips the nulls
    corpusGrams.join(evalGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_matched"))
      .withColumn("contamination_frac",
        col("n_matched").cast("double") / col("n_grams").cast("double"))
      .filter(col("contamination_frac") >= minFrac)
  }

  /** Composable CTE block `w_ct..cont_ct` for the contamination scan —
    * the single source [[contaminationOracleSql]] and composite
    * oracles (the corpus-pipeline twin) both build on; `cont_ct` is
    * (doc_id, n_grams, n_matched, contamination_frac) for every
    * corpus doc. CTE names are suffixed `_ct` so the block composes
    * next to the gram/simhash chains without collisions. */
  private[graft] def contaminationCtes(evalPred: String, n: Int): String =
    s"""
    |w_ct AS (SELECT doc_id, $evalPred AS is_eval, text,
    |         str_split(text, ' ') AS w FROM documents),
    |g_ct AS (SELECT DISTINCT doc_id, is_eval, gram
    |      FROM (SELECT doc_id, is_eval,
    |              unnest(${Dedup.wordGramsSql(n)}) AS gram FROM w_ct)),
    |ev_ct AS (SELECT DISTINCT gram FROM g_ct WHERE is_eval),
    |corpus_ct AS (SELECT doc_id, gram FROM g_ct WHERE NOT is_eval),
    |tot_ct AS (SELECT doc_id, count(*) AS n_grams FROM corpus_ct
    |           GROUP BY doc_id),
    |m_ct AS (SELECT doc_id, count(*) AS n_matched FROM corpus_ct
    |      WHERE gram IN (SELECT gram FROM ev_ct) GROUP BY doc_id),
    |cont_ct AS (
    |  SELECT t.doc_id, t.n_grams,
    |    CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
    |    CAST(coalesce(m.n_matched, 0) AS DOUBLE)
    |      / CAST(t.n_grams AS DOUBLE) AS contamination_frac
    |  FROM tot_ct t LEFT JOIN m_ct m ON t.doc_id = m.doc_id)
    |""".stripMargin.trim

  /** DuckDB twin of [[contamination]] over `documents`, with the eval
    * set selected by `evalPred` (a SQL predicate over the table's
    * columns). */
  def contaminationOracleSql(evalPred: String, n: Int = 3,
                             minFrac: Double = 0.1): String =
    s"""
    |WITH ${contaminationCtes(evalPred, n)}
    |SELECT doc_id, n_grams, n_matched, contamination_frac
    |FROM cont_ct
    |WHERE contamination_frac >= $minFrac
    |ORDER BY doc_id
    |""".stripMargin.trim

  /** Exact length quantiles per group (R-7 linear interpolation —
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * definition, and the interpolation arithmetic on integer inputs
    * is the same fixed double sequence on both engines). Exact
    * percentile shuffles all values per group; at 100 TB swap in
    * `percentile_approx` (t-digest sketch, mergeable map-side) and
    * drop the oracle to rows-only. */
  def lengthQuantiles(docs: DataFrame, group: Column,
                      length: Column): DataFrame =
    docs.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        percentile(length, lit(0.25)).as("p25"),
        percentile(length, lit(0.5)).as("p50"),
        percentile(length, lit(0.75)).as("p75"))

  def lengthQuantilesOracleSql(group: String, length: String): String =
    s"""
    |SELECT $group AS grp, count(*) AS n_docs,
    |  quantile_cont($length, 0.25) AS p25,
    |  quantile_cont($length, 0.5) AS p50,
    |  quantile_cont($length, 0.75) AS p75
    |FROM documents GROUP BY 1 ORDER BY grp NULLS FIRST
    |""".stripMargin.trim

  /** Sequence packing: place every document in the concatenated token
    * stream of its shard and derive which fixed-`budget` training
    * sequence(s) it lands in — the "concat then chunk" packing step
    * that turns a filtered corpus into equal-length pretraining
    * sequences. A document straddling a chunk boundary spans
    * `n_seqs > 1` sequences, exactly like the standard packed-stream
    * recipe (no padding, documents are split at sequence boundaries).
    *
    * Scale shape: the running token total is a window sum ordered by
    * document id and partitioned by `shard = h(id) mod nShards` —
    * each shard's stream is independent, so the window parallelizes
    * across shards instead of serializing the corpus through one
    * task. At 100 TB set nShards ≈ executor parallelism; each shard
    * emits its own seq_id space (global sequence identity is the
    * (shard, seq_id) pair). The shard hash rides the same
    * engine-portable permutation family as split/sample assignment
    * (index 2 — independent of both).
    *
    * All arithmetic is int64 (token counts, integer div/mod), so the
    * DuckDB twin matches bit for bit. */
  def seqPack(docs: DataFrame, id: Column, text: Column,
              budget: Int, nShards: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val shard = Hashing.permBucket(id, 2, nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(id.as("doc_id"), shard.as("shard"),
        size(Dedup.words(text)).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"tokens_before div $budget"))
      .withColumn("seq_offset", col("tokens_before") % budget)
      .withColumn("n_seqs",
        expr(s"(tokens_before + n_tokens - 1) div $budget") -
          col("seq_id") + 1)
  }

  /** DuckDB twin of [[seqPack]] over `rel` (any relation with
    * doc_id + text). */
  def seqPackOracleSql(budget: Int, nShards: Int,
                       rel: String = "documents"): String = {
    val shard = Hashing.permBucketSql("doc_id", 2, nShards)
    s"""
    |WITH toks AS (
    |  SELECT doc_id, $shard AS shard,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    |  FROM $rel),
    |run AS (
    |  SELECT doc_id, shard, n_tokens,
    |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS tokens_before
    |  FROM toks)
    |SELECT doc_id, shard, n_tokens, tokens_before,
    |  tokens_before // $budget AS seq_id,
    |  tokens_before % $budget AS seq_offset,
    |  (tokens_before + n_tokens - 1) // $budget
    |    - tokens_before // $budget + 1 AS n_seqs
    |FROM run ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Packing manifest: the per-(document, sequence) assembly list —
    * one row for every training sequence a document contributes
    * tokens to, with the exact token sub-range. This is what the
    * sequence-assembly stage actually consumes: for each output
    * sequence, which docs supply which token spans at which offsets.
    * A doc fully inside one chunk yields one row; a straddler yields
    * `n_seqs` rows whose spans tile the doc exactly.
    *
    *   - `doc_tok_start` — first token of the span, doc-relative
    *   - `seq_tok_start` — where the span lands, sequence-relative
    *   - `n_toks`        — span length (sums to n_tokens per doc)
    *
    * Derived from [[seqPack]] by exploding each doc's chunk range —
    * a generator projection on top of the shard-parallel prefix sum;
    * still no extra shuffle, output rows = corpus chunk crossings. */
  def packManifest(docs: DataFrame, id: Column, text: Column,
                   budget: Int, nShards: Int): DataFrame =
    seqPack(docs, id, text, budget, nShards)
      .withColumn("__i", explode(sequence(lit(0L), col("n_seqs") - 1)))
      .withColumn("seq", col("seq_id") + col("__i"))
      .withColumn("__span_lo",
        greatest(col("seq") * budget, col("tokens_before")))
      .withColumn("__span_hi",
        least((col("seq") + 1) * budget,
          col("tokens_before") + col("n_tokens")))
      .select(col("doc_id"), col("shard"), col("seq").as("seq_id"),
        (col("__span_lo") - col("tokens_before")).as("doc_tok_start"),
        (col("__span_lo") - col("seq") * budget).as("seq_tok_start"),
        (col("__span_hi") - col("__span_lo")).as("n_toks"))

  /** DuckDB twin of [[packManifest]] over `documents`. */
  def packManifestOracleSql(budget: Int, nShards: Int): String = {
    val shard = Hashing.permBucketSql("doc_id", 2, nShards)
    s"""
    |WITH toks AS (
    |  SELECT doc_id, $shard AS shard,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    |  FROM documents),
    |run AS (
    |  SELECT doc_id, shard, n_tokens,
    |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS tokens_before
    |  FROM toks),
    |spans AS (
    |  SELECT doc_id, shard, n_tokens, tokens_before,
    |    tokens_before // $budget + unnest(range(0,
    |      (tokens_before + n_tokens - 1) // $budget
    |        - tokens_before // $budget + 1)) AS seq
    |  FROM run),
    |cut AS (
    |  SELECT doc_id, shard, seq,
    |    greatest(seq * $budget, tokens_before) AS span_lo,
    |    least((seq + 1) * $budget, tokens_before + n_tokens) AS span_hi,
    |    tokens_before
    |  FROM spans)
    |SELECT doc_id, shard, CAST(seq AS BIGINT) AS seq_id,
    |  span_lo - tokens_before AS doc_tok_start,
    |  span_lo - seq * $budget AS seq_tok_start,
    |  span_hi - span_lo AS n_toks
    |FROM cut ORDER BY doc_id, seq_id
    |""".stripMargin.trim
  }

  /** [[seqPack]] with GLOBAL sequence ids — the distributed two-phase
    * prefix sum: (1) each shard's local running total (the
    * shard-partitioned window of [[seqPack]]), (2) per-shard token
    * totals, prefix-summed across shards (a window over nShards rows
    * — constant-size at any corpus scale) and broadcast back as each
    * shard's base offset. `global_offset = shard_base + tokens_before`
    * places every document in ONE corpus-wide token stream without
    * ever serializing that stream through a single task.
    *
    * The oracle states the SPEC instead: one global window ordered by
    * (shard, doc_id). The two formulations are equal by construction
    * — that equality is exactly what the oracle check proves. */
  def seqPackGlobal(docs: DataFrame, id: Column, text: Column,
                    budget: Int, nShards: Int): DataFrame = {
    val local = seqPack(docs, id, text, budget, nShards)
      .select("doc_id", "shard", "n_tokens", "tokens_before")
    val acrossShards = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = local.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("__shard_tokens"))
      .withColumn("shard_base",
        coalesce(sum(col("__shard_tokens")).over(acrossShards), lit(0L)))
      .select("shard", "shard_base")
    local.join(broadcast(bases), "shard")
      .withColumn("global_offset", col("shard_base") + col("tokens_before"))
      .withColumn("seq_id", expr(s"global_offset div $budget"))
      .withColumn("seq_offset", col("global_offset") % budget)
      .withColumn("n_seqs",
        expr(s"(global_offset + n_tokens - 1) div $budget") -
          col("seq_id") + 1)
      .select("doc_id", "shard", "n_tokens", "global_offset", "seq_id",
        "seq_offset", "n_seqs")
  }

  /** DuckDB twin of [[seqPackGlobal]] — deliberately the one-window
    * specification the two-phase Spark plan must reproduce. */
  def seqPackGlobalOracleSql(budget: Int, nShards: Int): String = {
    val shard = Hashing.permBucketSql("doc_id", 2, nShards)
    s"""
    |WITH toks AS (
    |  SELECT doc_id, $shard AS shard,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    |  FROM documents),
    |run AS (
    |  SELECT doc_id, shard, n_tokens,
    |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY shard, doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS global_offset
    |  FROM toks)
    |SELECT doc_id, shard, n_tokens, global_offset,
    |  global_offset // $budget AS seq_id,
    |  global_offset % $budget AS seq_offset,
    |  (global_offset + n_tokens - 1) // $budget
    |    - global_offset // $budget + 1 AS n_seqs
    |FROM run ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Data-mixture weights: per-(stratum) token mass and the
    * upsampling factor that would equalize every stratum's share —
    * the mixture-design step (how many epochs of each source/language
    * to take) that precedes corpus assembly.
    *
    * `weight = total_tokens / (n_groups · group_tokens)` is emitted
    * as an exact int64 numerator/denominator pair plus one IEEE
    * double division. Both are engine-portable: the integer inputs
    * are exact aggregates, and a single int64→double conversion and
    * one division are both exactly-rounded IEEE operations, so the
    * double cannot drift between engines (unlike a chain of float
    * sums). The grand-total window runs over the already-aggregated
    * frame — |strata| rows, not corpus rows — so the unpartitioned
    * window is a constant-size driver-side-scale op even at 100 TB. */
  def mixWeights(docs: DataFrame, g1: Column, g2: Column,
                 text: Column): DataFrame = {
    val grouped = docs
      .select(g1.as("g1"), g2.as("g2"),
        size(Dedup.words(text)).cast("long").as("__t"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("group_tokens"))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grouped
      .withColumn("total_tokens", sum(col("group_tokens")).over(all))
      .withColumn("n_groups", count(lit(1)).over(all))
      .withColumn("weight_den", col("n_groups") * col("group_tokens"))
      .withColumn("weight",
        col("total_tokens").cast("double") / col("weight_den").cast("double"))
      .select("g1", "g2", "n_docs", "group_tokens", "total_tokens",
        "n_groups", "weight_den", "weight")
  }

  /** DuckDB twin of [[mixWeights]] over `documents`. */
  def mixWeightsOracleSql(g1: String, g2: String): String =
    s"""
    |WITH grouped AS (
    |  SELECT $g1 AS g1, $g2 AS g2, count(*) AS n_docs,
    |    CAST(sum(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
    |      AS group_tokens
    |  FROM documents GROUP BY 1, 2),
    |tot AS (
    |  SELECT g1, g2, n_docs, group_tokens,
    |    CAST(sum(group_tokens) OVER () AS BIGINT) AS total_tokens,
    |    count(*) OVER () AS n_groups
    |  FROM grouped)
    |SELECT g1, g2, n_docs, group_tokens, total_tokens, n_groups,
    |  n_groups * group_tokens AS weight_den,
    |  CAST(total_tokens AS DOUBLE) / CAST(n_groups * group_tokens AS DOUBLE)
    |    AS weight
    |FROM tot ORDER BY g1, g2
    |""".stripMargin.trim

  /** Temperature-scaled mixture weights (τ = 0.5): the multilingual /
    * multi-source rebalancing rule p_i ∝ (share_i)^τ that upsamples
    * tail strata without letting the head dominate (the standard
    * mixture transform in large-corpus training recipes; τ = 1 is
    * proportional sampling, τ → 0 is uniform). τ is fixed at 0.5
    * because `x^0.5 = sqrt(x)` is an IEEE-exactly-rounded operation
    * on BOTH engines — an arbitrary `pow(x, τ)` is only
    * faithfully-rounded and may differ in the last ulp between
    * libm implementations, which would break cross-engine equality.
    *
    * Portability of the normalizer: `sqrt(share_i)` values are
    * snapped to nano fixed-point int64 (`round(x·1e9)` — one exact
    * multiply + one half-up round on identical doubles), then SUMMED
    * AS INTEGERS, so the denominator cannot drift under Spark's
    * nondeterministic partial-agg fold order (a double sum over the
    * strata would be order-dependent in the last ulp). The final
    * weight is one int64→double conversion per operand and one IEEE
    * division — exact, like [[mixWeights]].
    *
    * Scale shape: one corpus-keyed hash agg (map-side combine), then
    * constant-size (|strata| rows) window work. */
  def mixTemperature(docs: DataFrame, g: Column, text: Column): DataFrame = {
    val grouped = docs
      .select(g.as("g"), size(Dedup.words(text)).cast("long").as("__t"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("group_tokens"))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grouped
      .withColumn("total_tokens", sum(col("group_tokens")).over(all))
      .withColumn("share",
        col("group_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("sqrt_share_e9",
        round(sqrt(col("share")) * lit(1e9)).cast("long"))
      .withColumn("norm_e9", sum(col("sqrt_share_e9")).over(all))
      .withColumn("temp_weight",
        col("sqrt_share_e9").cast("double") / col("norm_e9").cast("double"))
      .select("g", "n_docs", "group_tokens", "total_tokens", "share",
        "sqrt_share_e9", "norm_e9", "temp_weight")
  }

  /** DuckDB twin of [[mixTemperature]] over `documents`. */
  def mixTemperatureOracleSql(g: String): String =
    s"""
    |WITH grouped AS (
    |  SELECT $g AS g, count(*) AS n_docs,
    |    CAST(sum(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
    |      AS group_tokens
    |  FROM documents GROUP BY 1),
    |tot AS (
    |  SELECT g, n_docs, group_tokens,
    |    CAST(sum(group_tokens) OVER () AS BIGINT) AS total_tokens
    |  FROM grouped),
    |sq AS (
    |  SELECT g, n_docs, group_tokens, total_tokens,
    |    CAST(group_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
    |    CAST(round(sqrt(CAST(group_tokens AS DOUBLE)
    |      / CAST(total_tokens AS DOUBLE)) * 1e9) AS BIGINT) AS sqrt_share_e9
    |  FROM tot)
    |SELECT g, n_docs, group_tokens, total_tokens, share, sqrt_share_e9,
    |  CAST(sum(sqrt_share_e9) OVER () AS BIGINT) AS norm_e9,
    |  CAST(sqrt_share_e9 AS DOUBLE) / CAST(sum(sqrt_share_e9) OVER () AS DOUBLE)
    |    AS temp_weight
    |FROM sq ORDER BY g
    |""".stripMargin.trim

  /** The EPOCH PLAN a temperature-scaled mixture implies for a fixed
    * training-token budget: per stratum, the planned token draw
    * (budget × the τ=0.5 weight) and the repeat factor over the
    * stratum's available mass in exact milli-epochs —
    * `epochs_x1000 = ceil(planned·1000 / available)`. This is the
    * "how many times does each source repeat at this mix" table every
    * large-corpus training recipe publishes next to its mixture
    * weights; `upsampled=1` (>1 epoch) flags the strata the budget
    * forces into repetition — the overfitting-risk dial.
    *
    * Arithmetic: the weight is [[mixTemperature]]'s exact fixed point
    * (sqrt_share_e9 / norm_e9 — IEEE-exactly-rounded sqrt, int64
    * fold), and every product folds in decimal(38,0) BEFORE its
    * integer division (budget·sqrt_share_e9 passes int64 once the
    * budget exceeds ~9.2e9 tokens — the basketLift/zipfBands
    * cleared-overflow discipline applied from the start), so the plan
    * is bit-identical across engines at any budget. Cost shape: one
    * stratum aggregate; the plan math runs on |strata| rows. */
  def mixEpochPlan(docs: DataFrame, g: Column, text: Column,
                   budgetTokens: Long): DataFrame =
    mixTemperature(docs, g, text)
      .withColumn("planned_tokens", expr(
        s"(cast($budgetTokens as decimal(38,0)) * sqrt_share_e9) " +
          "div norm_e9").cast("long"))
      .withColumn("epochs_x1000", expr(
        "(cast(planned_tokens as decimal(38,0)) * 1000 " +
          "+ group_tokens - 1) div group_tokens").cast("long"))
      .withColumn("upsampled",
        when(col("epochs_x1000") > 1000, 1L).otherwise(0L))
      .select("g", "n_docs", "group_tokens", "planned_tokens",
        "epochs_x1000", "upsampled")

  /** DuckDB twin of [[mixEpochPlan]] over `documents`. */
  def mixEpochPlanOracleSql(g: String, budgetTokens: Long): String =
    s"""
    |WITH grouped AS (
    |  SELECT $g AS g, count(*) AS n_docs,
    |    CAST(sum(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
    |      AS group_tokens
    |  FROM documents GROUP BY 1),
    |sq AS (
    |  SELECT g, n_docs, group_tokens,
    |    CAST(round(sqrt(CAST(group_tokens AS DOUBLE)
    |      / CAST(CAST(sum(group_tokens) OVER () AS BIGINT) AS DOUBLE))
    |      * 1e9) AS BIGINT) AS sqrt_share_e9
    |  FROM grouped),
    |pl AS (
    |  SELECT g, n_docs, group_tokens,
    |    CAST(CAST($budgetTokens AS HUGEINT) * sqrt_share_e9
    |         // CAST(sum(sqrt_share_e9) OVER () AS HUGEINT) AS BIGINT)
    |      AS planned_tokens
    |  FROM sq)
    |SELECT g, n_docs, group_tokens, planned_tokens,
    |  CAST((CAST(planned_tokens AS HUGEINT) * 1000 + group_tokens - 1)
    |       // CAST(group_tokens AS HUGEINT) AS BIGINT) AS epochs_x1000,
    |  CAST(CASE WHEN (CAST(planned_tokens AS HUGEINT) * 1000
    |         + group_tokens - 1) // CAST(group_tokens AS HUGEINT) > 1000
    |    THEN 1 ELSE 0 END AS BIGINT) AS upsampled
    |FROM pl ORDER BY g
    |""".stripMargin.trim

  /** Deterministic mixture down-sampling: cap every stratum at the
    * smallest stratum's token mass by hash-thresholding documents —
    * the EXECUTION step that [[mixWeights]]'s design numbers feed.
    * Each doc draws a stable uniform bucket in [0, 1e6) from the
    * engine-portable universal hash of its id; the stratum keeps the
    * doc iff `bucket < keep_ppm` where
    * `keep_ppm = (min_tokens · 1e6) div group_tokens` — a keep rate
    * of `min_tokens / group_tokens` (floor-quantized to 1 ppm) with
    * zero RNG state, no second pass, and exact int64 arithmetic
    * throughout (no doubles, so no rounding question at all). The
    * only product, `min_tokens · 1e6`, stays under int64 until the
    * SMALLEST stratum alone exceeds ~9.2e12 tokens (≈ 37 TB of text)
    * — past that, widen to DECIMAL(38,0).
    *
    * At 100 TB this is the right shape: the per-stratum token totals
    * are one map-side-combined agg (|strata| rows, broadcast back),
    * and the keep decision is then a stateless per-row projection —
    * any executor can re-derive membership without a join against a
    * sample table. Emits the per-stratum audit (kept counts + realized
    * token mass vs the target) rather than the kept rows themselves;
    * the same predicate applied row-wise materializes the sample. */
  def mixSample(docs: DataFrame, id: Column, g: Column,
                text: Column): DataFrame = {
    val M = 1000000L
    // materialized once: both the totals branch and the keep-audit
    // join consume it, and the token-count split is the expensive
    // part of the row (measured 2× at 100×)
    val grouped = docs
      .select(id.as("doc_id"), g.as("g"),
        size(Dedup.words(text)).cast("long").as("__t"),
        Hashing.permBucket(id, 3, M.toInt).cast("long").as("__bucket"))
      .localCheckpoint()
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val totals = grouped.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("group_tokens"))
      .withColumn("min_tokens", min(col("group_tokens")).over(all))
    // `div` = exact int64 floor division (a double `/` would lose
    // precision once min_tokens·1e6 passes 2^53)
    val withRate = totals.withColumn("keep_ppm",
      expr(s"(min_tokens * ${M}L) div group_tokens"))
    grouped
      .join(broadcast(withRate), Seq("g"))
      .withColumn("__kept", (col("__bucket") < col("keep_ppm")).cast("long"))
      .groupBy(col("g"), col("n_docs"), col("group_tokens"),
        col("min_tokens"), col("keep_ppm"))
      .agg(sum(col("__kept")).as("kept_docs"),
        sum(col("__kept") * col("__t")).as("kept_tokens"))
      .select("g", "n_docs", "group_tokens", "min_tokens", "keep_ppm",
        "kept_docs", "kept_tokens")
  }

  /** DuckDB twin of [[mixSample]] over `documents`. */
  def mixSampleOracleSql(g: String): String = {
    val bucket = Hashing.permBucketSql("doc_id", 3, 1000000)
    s"""
    |WITH toks AS (
    |  SELECT doc_id, $g AS g,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS t,
    |    CAST($bucket AS BIGINT) AS bucket
    |  FROM documents),
    |totals AS (
    |  SELECT g, count(*) AS n_docs,
    |    CAST(sum(t) AS BIGINT) AS group_tokens
    |  FROM toks GROUP BY 1),
    |tgt AS (
    |  SELECT g, n_docs, group_tokens,
    |    CAST(min(group_tokens) OVER () AS BIGINT) AS min_tokens,
    |    CAST((min(group_tokens) OVER () * 1000000) // group_tokens
    |      AS BIGINT) AS keep_ppm
    |  FROM totals),
    |kept AS (
    |  SELECT k.g, n_docs, group_tokens, min_tokens, keep_ppm,
    |    CASE WHEN bucket < keep_ppm THEN 1 ELSE 0 END AS is_kept, t
    |  FROM toks k JOIN tgt USING (g))
    |SELECT g, n_docs, group_tokens, min_tokens, keep_ppm,
    |  CAST(sum(is_kept) AS BIGINT) AS kept_docs,
    |  CAST(sum(is_kept * t) AS BIGINT) AS kept_tokens
    |FROM kept GROUP BY 1, 2, 3, 4, 5
    |ORDER BY g
    |""".stripMargin.trim
  }

  /** Corpus snapshot diff: classify every doc id across two dataset
    * versions as added / removed / changed / unchanged and roll the
    * counts up per source — the dataset-versioning audit a training
    * corpus release ships with (what changed since the mix we last
    * trained on?).
    *
    * Content comparison is by MD5 digest, not raw text: at 100 TB the
    * full-outer join then moves 16-byte digests instead of documents,
    * and the digest is computed in the scan projection (map-side,
    * before any shuffle). One id-keyed shuffle per side; the rollup
    * reduces to |sources|·4 rows with map-side combine. MD5 hex is
    * identical cross-engine (RFC 1321; both emit lowercase hex), and
    * only EQUALITY of digests is consumed. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, id: Column,
                   text: Column, attr: Column): DataFrame = {
    val o = oldSnap.select(id.as("doc_id"), md5(text).as("__oh"),
      attr.as("__oa"))
    val n = newSnap.select(id.as("doc_id"), md5(text).as("__nh"),
      attr.as("__na"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged"))
      .withColumn("source", coalesce(col("__na"), col("__oa")))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** DuckDB twin of [[snapshotDiff]] for the declared `corpus_diff`
    * query, whose two versions derive deterministically from
    * `documents`: the OLD snapshot drops ids ≡ 0 (mod 7), the NEW
    * snapshot drops ids ≡ 0 (mod 5) and rewrites the text of ids
    * ≡ 0 (mod 11) — so all four statuses occur. */
  def snapshotDiffOracleSql: String =
    s"""
    |WITH old AS (
    |  SELECT doc_id, md5(text) AS oh, source AS oa
    |  FROM documents WHERE doc_id % 7 <> 0),
    |new AS (
    |  SELECT doc_id,
    |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS nh,
    |    source AS na
    |  FROM documents WHERE doc_id % 5 <> 0),
    |diff AS (
    |  SELECT
    |    CASE WHEN oh IS NULL THEN 'added'
    |         WHEN nh IS NULL THEN 'removed'
    |         WHEN oh <> nh THEN 'changed'
    |         ELSE 'unchanged' END AS status,
    |    coalesce(na, oa) AS source
    |  FROM old FULL OUTER JOIN new USING (doc_id))
    |SELECT source, status, count(*) AS n_docs
    |FROM diff GROUP BY 1, 2 ORDER BY source, status
    |""".stripMargin.trim

  /** Exactly-n-per-stratum deterministic sample: the eval-set /
    * human-review carve ("give me exactly 200 docs per source,
    * stable across reruns"). Rank within stratum by an independent
    * permutation of the id (index 6 — unused by split/shard/mix
    * assignments, so carving eval docs cannot bias any of them),
    * keep rank ≤ n. Unlike rate-based sampling ([[mixSample]]) the
    * count is EXACT, not expected.
    *
    * Scale note: the rank is a per-stratum window — fine while
    * strata are numerous relative to executors (the usual case:
    * sources × languages). For few huge strata, prefilter by hash
    * bucket to ~4n survivors per stratum (one broadcast of stratum
    * counts) and rank those; same answer whenever the prefilter
    * keeps ≥ n, which a 4× margin makes near-certain — the plain
    * form here is the exact-by-construction baseline. */
  def fixedNSample(docs: DataFrame, id: Column, g: Column,
                   n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = Window.partitionBy(col("g"))
      .orderBy(col("__ok"), col("doc_id"))
    docs.select(id.as("doc_id"), g.as("g"),
        Hashing.permBucket(id, 6, ShuffleOrderMod).cast("long").as("__ok"))
      .withColumn("rank_in_stratum", row_number().over(w).cast("long"))
      .filter(col("rank_in_stratum") <= n)
      .select("doc_id", "g", "rank_in_stratum")
  }

  /** DuckDB twin of [[fixedNSample]] over `documents`. */
  def fixedNSampleOracleSql(g: String, n: Int): String = {
    val ok = Hashing.permBucketSql("doc_id", 6, ShuffleOrderMod)
    s"""
    |WITH keyed AS (
    |  SELECT doc_id, $g AS g, CAST($ok AS BIGINT) AS ok FROM documents),
    |ranked AS (
    |  SELECT doc_id, g,
    |    CAST(row_number() OVER (PARTITION BY g ORDER BY ok, doc_id)
    |      AS BIGINT) AS rank_in_stratum
    |  FROM keyed)
    |SELECT doc_id, g, rank_in_stratum
    |FROM ranked WHERE rank_in_stratum <= $n
    |ORDER BY g, rank_in_stratum
    |""".stripMargin.trim
  }

  /** Order-key modulus for [[epochShuffle]] (2^30 distinct ranks;
    * ties broken by doc id). */
  val ShuffleOrderMod: Int = 1 << 30

  /** Deterministic epoch shuffle: the trainer-facing global
    * permutation of the corpus — every document gets a shard and an
    * exact position (within-shard and global) for a given epoch, with
    * zero RNG state: any executor (or the oracle) re-derives the full
    * assignment from (doc_id, epoch) alone, so a resumed or replayed
    * job sees the identical order.
    *
    * Scale shape is the two-phase global-order recipe (same as
    * [[seqPackGlobal]]): the only per-row work is (a) a stateless
    * projection deriving `shard` and `order_key` from independent
    * permutations of `doc_id + epoch·1000003`, and (b) ONE
    * `row_number` window partitioned by shard — n/nShards rows per
    * partition, never the corpus through one task (a naive global
    * `orderBy rand()` is exactly the shape this avoids; Spark would
    * range-sample it into balance, but the rank would still be
    * nondeterministic under retries). Phase two turns shard counts
    * (|shards| rows) into cumulative offsets with a constant-size
    * window and broadcasts them back; `global_pos = offset +
    * shard_pos` is then exact int64. Epochs reshuffle by shifting the
    * id before both permutations — different epochs give different,
    * equally deterministic orders. */
  def epochShuffle(docs: DataFrame, id: Column, nShards: Int,
                   epoch: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val eid = id + lit(epoch.toLong * 1000003L)
    val keyed = docs.select(id.as("doc_id"),
      Hashing.permBucket(eid, 4, nShards).cast("long").as("shard"),
      Hashing.permBucket(eid, 5, ShuffleOrderMod).cast("long")
        .as("order_key"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("order_key"), col("doc_id"))
    val withPos = keyed.withColumn("shard_pos",
      row_number().over(w).cast("long") - 1)
    // constant-size phase: |shards| rows through one window
    val wS = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("shard"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wS), lit(0L)))
      .select(col("shard"), col("__off"))
    withPos.join(broadcast(offsets), Seq("shard"))
      .withColumn("global_pos", col("__off") + col("shard_pos"))
      .select("doc_id", "shard", "order_key", "shard_pos", "global_pos")
  }

  /** DuckDB twin of [[epochShuffle]] over `documents`. */
  def epochShuffleOracleSql(nShards: Int, epoch: Int = 0): String = {
    val eid = s"(doc_id + ${epoch.toLong * 1000003L})"
    val shard = Hashing.permBucketSql(eid, 4, nShards)
    val okey = Hashing.permBucketSql(eid, 5, ShuffleOrderMod)
    s"""
    |WITH keyed AS (
    |  SELECT doc_id, CAST($shard AS BIGINT) AS shard,
    |    CAST($okey AS BIGINT) AS order_key
    |  FROM documents),
    |pos AS (
    |  SELECT doc_id, shard, order_key,
    |    CAST(row_number() OVER (PARTITION BY shard
    |      ORDER BY order_key, doc_id) - 1 AS BIGINT) AS shard_pos
    |  FROM keyed),
    |off AS (
    |  SELECT shard,
    |    CAST(coalesce(sum(n) OVER (ORDER BY shard
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    |      AS off
    |  FROM (SELECT shard, count(*) AS n FROM keyed GROUP BY shard))
    |SELECT doc_id, shard, order_key, shard_pos,
    |  off + shard_pos AS global_pos
    |FROM pos JOIN off USING (shard) ORDER BY doc_id
    |""".stripMargin.trim
  }

  /** Overlapping fixed-size chunk manifest — the RAG/embedding
    * chunking step: each document splits into word windows of
    * `chunkLen` starting every `stride` words (overlap = chunkLen −
    * stride), the unit an embedding or retrieval index actually
    * stores. Offsets o = 0, stride, 2·stride, … while o < n_words;
    * the final chunk may be shorter (`chunk_words` carries its true
    * length). A pure explode projection — rows ≈ n_words/stride per
    * doc, no shuffle, linear at any scale; chunk ids are (doc_id,
    * chunk_idx), so downstream embedding jobs join back losslessly. */
  def docChunks(docs: DataFrame, id: Column, text: Column,
                chunkLen: Int, stride: Int): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"need 0 < stride <= chunkLen, got chunkLen=$chunkLen stride=$stride")
    docs.select(id.as("doc_id"), split(text, " ").as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("__nw"),
        col("__w"))
      .select(col("doc_id"), col("__nw"),
        posexplode(transform(
          sequence(lit(0),
            expr(s"cast((__nw + ${stride - 1}) div $stride as int) - 1")),
          i => array_join(slice(col("__w"), i * stride + 1, lit(chunkLen)),
            " "))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        (col("pos") * stride).cast("long").as("chunk_start"),
        least(lit(chunkLen.toLong),
          col("__nw") - col("pos") * stride).as("chunk_words"),
        col("col").as("chunk_text"))
  }

  /** DuckDB twin of [[docChunks]] over `documents`. */
  def docChunksOracleSql(chunkLen: Int, stride: Int): String =
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw, w FROM w),
    |c AS (
    |  SELECT doc_id, nw, CAST(i AS BIGINT) AS chunk_idx,
    |    CAST(i * $stride AS BIGINT) AS chunk_start,
    |    array_to_string(
    |      list_slice(w, i*$stride + 1, i*$stride + $chunkLen), ' ')
    |      AS chunk_text
    |  FROM (SELECT doc_id, nw, w,
    |          unnest(range((nw + ${stride - 1}) // $stride)) AS i
    |        FROM b))
    |SELECT doc_id, chunk_idx, chunk_start,
    |  least($chunkLen, nw - chunk_start) AS chunk_words, chunk_text
    |FROM c ORDER BY doc_id, chunk_idx
    |""".stripMargin.trim

  /** BM25-family retrieval scoring for a LITERAL term set — the
    * "find the training docs most relevant to this probe query"
    * operator (contamination triage, targeted corpus inspection,
    * retrieval-index smoke tests). Per document:
    * {{{ score = Σ_t idf_fp(t) · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·len/avglen)) }}}
    * with the Robertson idf replaced by its RATIONAL fixed-point
    * image `idf_fp = (2N − 2df + 1)·10⁶ div (2df + 1)` — the exact
    * integer image of (N − df + ½)/(df + ½), strictly monotone in
    * the true log idf, so rankings agree with BM25's for any single
    * term and stay engine-exact with ZERO transcendental calls (the
    * [[graft.ext.TextAnalysis.lmFit]] integer-ratio discipline; the
    * log only compresses scale). The tf saturation uses k1=1.2,
    * b=0.75 scaled ×4 into integers: numerator tf·11, denominator
    * 5·tf + 3·(1 + 3·len·10⁶ div (avglen_fp)) ... all divisions are
    * integer `div` at ppm precision, replayed verbatim by the
    * oracle.
    *
    * Scale shape: terms are a literal array (bounded); per-doc tf
    * comes from one projection over the pre-split words; df and
    * avglen are two scalar aggregates collected once (O(|terms|+1)
    * driver hop, k-means-codebook pattern) and returned as literals,
    * so scoring is a pure projection + one TakeOrdered top-k. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val w = col("__w")
    val base = docs.select(id.as("doc_id"), split(text, " ").as("__w"))
    // driver hop: N, total tokens (avglen at ppm), per-term dfs —
    // one 1-row aggregate, O(|terms|) values back
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(size(w).cast("long")).as("toks")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(w, t), 1L).otherwise(0L)).as(s"df$i")
      }
    val aggRow = base.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nDocs = aggRow.getAs[Long]("n")
    val avgLenPpm = math.max(1L,
      aggRow.getAs[Long]("toks") * 1000000L / math.max(1L, nDocs))
    // idf image at 1e3 scale: (2N − 2df + 1)·1000 div (2df + 1) —
    // keeps the per-term product idf_fp3 · sat_ppm under ~1e15, so
    // the score sum stays overflow-safe past 10^8 docs
    val idfFp3 = terms.indices.map { i =>
      val df = aggRow.getAs[Long](s"df$i")
      (2 * nDocs - 2 * df + 1) * 1000L / (2 * df + 1)
    }
    // per-doc: length norm in ppm, per-term tf, saturated-tf ppm
    // (k1 = 6/5, b = 3/4: tf·(k1+1)/(tf + k1·norm) ⇒
    // 11·tf·1e12 div (5·tf·1e6 + 6·norm_ppm) at ppm scale), then
    // score_fp = Σ idf_fp3 · sat_ppm — pure integer projection
    val withCols = terms.indices.foldLeft(
        base.withColumn("__norm",
          lit(250000L) + expr(
            // cast first: 750000·len·1e6 overflows INT arithmetic
            s"(cast(750000 as bigint) * size(__w) * 1000000) " +
              s"div $avgLenPpm"))) {
      case (d, i) => d.withColumn(s"__tf$i",
        size(filter(col("__w"), t => t === terms(i))).cast("long"))
    }
    withCols
      .select(col("doc_id") +: terms.indices.map(i =>
        (lit(idfFp3(i)) * when(col(s"__tf$i") > 0,
          expr(s"(11 * __tf$i * 1000000000000) div " +
            s"(5 * __tf$i * 1000000 + 6 * __norm)")).otherwise(0L))
          .as(s"__s$i")): _*)
      .select(col("doc_id"),
        terms.indices.map(i => col(s"__s$i")).reduce(_ + _)
          .as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc).limit(k)
  }

  /** DuckDB twin of [[bm25TopK]] over `documents`. */
  def bm25TopKOracleSql(terms: Seq[String], k: Int): String = {
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(w, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n|    ")
    val idfCols = terms.indices.map { i =>
      s"(2*n - 2*df$i + 1) * 1000 // (2*df$i + 1) AS idf$i"
    }.mkString(",\n|    ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|    ")
    val sTerms = terms.indices.map { i =>
      s"idf$i * (CASE WHEN tf$i > 0 THEN (11 * tf$i * 1000000000000) " +
        s"// (5 * tf$i * 1000000 + 6 * norm) ELSE 0 END)"
    }.mkString(" + ")
    s"""
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |stats AS (
    |  SELECT CAST(count(*) AS BIGINT) AS n,
    |    greatest(1, sum(len(w)) * 1000000 // count(*)) AS avg_ppm,
    |    $dfCols
    |  FROM w),
    |idf AS (SELECT n, avg_ppm,
    |    $idfCols
    |  FROM stats),
    |per AS (
    |  SELECT doc_id,
    |    250000 + (750000 * len(w) * 1000000) // avg_ppm AS norm,
    |    $tfCols
    |  FROM w, idf),
    |scored AS (
    |  SELECT doc_id, CAST($sTerms AS BIGINT) AS score_fp
    |  FROM per, idf)
    |SELECT doc_id, score_fp FROM scored
    |ORDER BY score_fp DESC, doc_id LIMIT $k
    |""".stripMargin.trim
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio / RM1-style,
    * Lavrenko & Croft SIGIR 2001 family, rational fixed-point): run
    * [[bm25TopK]] for the literal seed `terms`, treat its top
    * `kDocs` documents as relevant, and rank every non-seed term in
    * them by feedback-frequency × global-rarity:
    * {{{ score_fp = (tf_fb · (2N − 2df + 1) · 1000) div (2df + 1) }}}
    * — tf_fb the term's occurrence count inside the feedback set, df
    * its corpus-wide document frequency, and the second factor the
    * same rational idf image as BM25's (strictly monotone in true
    * idf, zero transcendentals). The top `mTerms` rows are the
    * expansion candidates a retrieval pipeline appends to the query
    * for the second pass.
    *
    * Scale shape: the feedback set is `kDocs` rows, so its term
    * table `tf_fb` is bounded (kDocs × doc vocab) and BROADCASTS —
    * both as the semi-join prune that keeps the corpus-wide df agg
    * to feedback-vocabulary terms only, and as the final join's
    * small side. The only big operations are the bm25 scoring pass
    * (one projection + TakeOrdered) and one corpus explode → df agg
    * pruned to that broadcast vocabulary. The score numerator folds
    * in decimal(38,0) before the trailing `div` (which returns
    * bigint on both engines) — at the 100 TB posture N ~ 1e12 and
    * tf_fb ~ 1e6 exceed int64 in the intermediate product, the
    * [[graft.ext.Graph.basketLift]] cleared-overflow discipline. */
  def bm25PrfExpand(docs: DataFrame, id: Column, text: Column,
                    terms: Seq[String], kDocs: Int,
                    mTerms: Int): DataFrame = {
    require(terms.nonEmpty && kDocs > 0 && mTerms > 0)
    val base = docs.select(id.as("doc_id"), split(text, " ").as("__w"))
    val fb = bm25TopK(docs, id, text, terms, kDocs).select(col("doc_id"))
    val fbTf = base.join(broadcast(fb), Seq("doc_id"))
      .select(explode(col("__w")).as("__t"))
      .filter(!col("__t").isin(terms: _*))
      .groupBy(col("__t")).agg(count(lit(1)).as("tf_fb"))
    val dfT = base.select(explode(array_distinct(col("__w"))).as("__t"))
      .join(broadcast(fbTf.select(col("__t"))), Seq("__t"), "left_semi")
      .groupBy(col("__t")).agg(count(lit(1)).as("df"))
    val nRow = base.agg(count(lit(1)).as("__n"))
    fbTf.join(dfT, Seq("__t"))
      .crossJoin(broadcast(nRow))
      .select(col("__t").as("term"), col("tf_fb").cast("long").as("tf_fb"),
        col("df").cast("long").as("df"),
        expr("(cast(tf_fb as decimal(38,0)) * (2*__n - 2*df + 1) * 1000) " +
          "div (2*df + 1)").cast("long").as("score_fp"))
      .orderBy(col("score_fp").desc, col("term").asc).limit(mTerms)
  }

  /** DuckDB twin of [[bm25PrfExpand]] over `documents` — the
    * feedback-doc CTE single-sources from [[bm25TopKOracleSql]]. */
  def bm25PrfExpandOracleSql(terms: Seq[String], kDocs: Int,
                             mTerms: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""
    |WITH fbdocs AS (
    |  SELECT doc_id FROM (${bm25TopKOracleSql(terms, kDocs)
        .replace("\n", "\n|    ")})),
    |fbtf AS (
    |  SELECT tok AS t, count(*) AS tf_fb
    |  FROM (SELECT unnest(str_split(text, ' ')) AS tok
    |        FROM documents JOIN fbdocs USING (doc_id))
    |  WHERE tok NOT IN ($termList) GROUP BY tok),
    |dft AS (
    |  SELECT t, count(*) AS df
    |  FROM (SELECT DISTINCT doc_id, t FROM
    |         (SELECT doc_id, unnest(str_split(text, ' ')) AS t
    |          FROM documents))
    |  WHERE t IN (SELECT t FROM fbtf) GROUP BY t),
    |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    |SELECT t AS term, CAST(tf_fb AS BIGINT) AS tf_fb,
    |  CAST(df AS BIGINT) AS df,
    |  CAST(CAST(tf_fb AS HUGEINT) * (2*n - 2*df + 1) * 1000
    |       // (2*df + 1) AS BIGINT) AS score_fp
    |FROM fbtf JOIN dft USING (t) CROSS JOIN n
    |ORDER BY score_fp DESC, term LIMIT $mTerms
    |""".stripMargin.trim
  }

  // ---------------------------------------------------------------
  // DSIR — data selection via importance resampling (Xie et al.
  // 2023): hashed n-gram bag-of-words LMs for a TARGET distribution
  // and the RAW corpus; a document's importance weight is its
  // log-likelihood ratio under the two, and selection keeps the
  // highest-weight documents.
  // ---------------------------------------------------------------

  /** DSIR importance weights + selection over hashed unigram
    * features. `target` marks the rows defining the target
    * distribution (e.g. `lang === "en"`, or membership in a curated
    * seed corpus); features are [[Hashing.polyHash]](token) mod
    * `dim` — the same hashed bag-of-words as `feature_hash`.
    *
    * Per bucket `b`, with add-one smoothing over `dim` buckets:
    * {{{ LLR(b) = ln (ct(b)+1)/(Nt+dim)  −  ln (cr(b)+1)/(Nr+dim) }}}
    * quantized ONCE into a fixed-point table `L(b) =
    * round(LLR(b)·1e6)` of `dim` rows. A document's weight is then
    * the EXACT integer dot `w_fp = Σ_b c_d(b)·L(b)` — the one
    * deviation from this file's no-floating-logs charter, confined
    * to `dim` ln sites corpus-wide (each evaluated on bit-identical
    * double inputs in both engines, then quantized; per-DOCUMENT
    * arithmetic stays pure int64, so ranking cannot drift between
    * documents that don't tie in the quantized table).
    *
    * `selected` keeps the top quarter per stratum — row_number over
    * (w_fp desc, doc_id) within `strata` (per-domain resampling, the
    * practical deployment), so the ranking window is
    * stratum-bounded, never a single global sort task.
    *
    * Scale shape (the 100× probe caught the naive two-shuffle
    * formulation going superlinear — ~32M (doc, bucket) rows through
    * a two-level aggregate; this one replaced it): the
    * [[org.apache.spark.sql.graftext.FeatureHashExpr]] kernel emits
    * each doc's dense bucket-count vector with NO shuffle; bucket
    * counts reduce map-side to `dim` rows per partition; the LLR
    * table takes the sanctioned O(dim) driver hop (the k-means
    * codebook pattern) and comes back as a LITERAL array, so the
    * per-doc weight is one codegen [[LongVecDot]] int64 dot — a pure
    * projection. The only corpus-scale shuffle left is the
    * stratum-partitioned selection window. */
  def dsirWeights(docs: DataFrame, id: Column, text: Column,
                  target: Column, strata: Column,
                  dim: Int = 64): DataFrame =
    dsirWeightsWith(docs, id, text, target, strata, dim,
      fit = lit(true), score = lit(true))

  /** Incremental DSIR — the deployment shape: the LLR table FITS on
    * the settled index side (`id < splitAt`) only and the arriving
    * batch (`id >= splitAt`) is scored against it, so a nightly
    * ingest is a pure projection + a batch-bounded selection window;
    * the fit never re-reads the corpus (persist the dim-entry table
    * and the cost is zero). The DSIR twin of `dedup_incremental` /
    * `ann_pq_incremental`. */
  def dsirIncremental(docs: DataFrame, id: Column, text: Column,
                      target: Column, strata: Column, splitAt: Long,
                      dim: Int = 64): DataFrame =
    dsirWeightsWith(docs, id, text, target, strata, dim,
      fit = id < splitAt, score = id >= splitAt)

  /** Fit the DSIR fixed-point LLR table: target/raw hashed-unigram
    * counts over `docs` → `dim` quantized log-likelihood-ratio
    * entries (the O(dim) driver hop). The returned array is the
    * MODEL: [[dsirWeights]] and [[dsirIncremental]] score documents
    * against it as a pure projection (two int64 dots per doc). */
  def dsirFitLlr(docs: DataFrame, text: Column, target: Column,
                 dim: Int = 64): Array[Long] = {
    require(dim > 0, s"dim must be positive, got $dim")
    import org.apache.spark.sql.graftext.FeatureHashBridge
    // bucket counts: posexplode collapses map-side to dim rows per
    // partition before the (tiny) shuffle
    val counts = docs.select(target.as("__is_t"),
        FeatureHashBridge.column(text, dim, Hashing.P).as("__f"))
      .select(col("__is_t"), posexplode(col("__f")).as(Seq("__b", "__c")))
      .groupBy(col("__b"))
      .agg(sum(col("__c")).as("__cr"),
        sum(when(col("__is_t"), col("__c")).otherwise(0L)).as("__ct"))
      .collect().map(r => r.getAs[Int]("__b").toLong ->
        (r.getAs[Long]("__cr"), r.getAs[Long]("__ct"))).toMap
    val nr = counts.valuesIterator.map(_._1).sum
    val nt = counts.valuesIterator.map(_._2).sum
    // fixed-point LLR table, HALF_UP like both engines' round(); a
    // bucket no document hits gets its smoothed value too (its dot
    // contribution is 0 regardless)
    Array.tabulate(dim) { b =>
      val (cr, ct) = counts.getOrElse(b.toLong, (0L, 0L))
      val v = (math.log((ct + 1).toDouble / (nt + dim).toDouble) -
        math.log((cr + 1).toDouble / (nr + dim).toDouble)) * 1e6
      java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
  }

  private def dsirWeightsWith(docs: DataFrame, id: Column, text: Column,
                              target: Column, strata: Column, dim: Int,
                              fit: Column, score: Column): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    import org.apache.spark.sql.graftext.{FeatureHashBridge, LongVecDot}
    val llr = dsirFitLlr(docs.filter(fit), text, target, dim)
    val fh = docs.filter(score).select(id.as("doc_id"), strata.as("__g"),
      FeatureHashBridge.column(text, dim, Hashing.P).as("__f"))
    val perDoc = fh.select(col("doc_id"), col("__g"),
      LongVecDot.dotColumn(col("__f"),
        lit(Array.fill(dim)(1L))).as("n_toks"),
      LongVecDot.dotColumn(col("__f"), lit(llr)).as("w_fp"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("w_fp").desc, col("doc_id").asc)
    val cw = Window.partitionBy(col("__g"))
    perDoc
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(cw))
      .select(col("doc_id"), col("n_toks"), col("w_fp"),
        when(col("__rn") <= expr("(__cnt + 3) div 4"), 1L).otherwise(0L)
          .as("selected"))
  }

  /** DuckDB twin of [[dsirWeights]] over `documents` (target =
    * `lang = 'en'`, strata = `source`). */
  def dsirWeightsOracleSql(dim: Int = 64): String =
    dsirOracleSqlWith(dim, "TRUE", "TRUE")

  /** DuckDB twin of [[dsirIncremental]]. */
  def dsirIncrementalOracleSql(splitAt: Long, dim: Int = 64): String =
    dsirOracleSqlWith(dim, s"doc_id < $splitAt", s"doc_id >= $splitAt")

  private def dsirOracleSqlWith(dim: Int, fitPred: String,
                                scorePred: String): String =
    s"""
    |WITH toks AS (
    |  SELECT doc_id, source AS g, lang = 'en' AS is_t,
    |    ${Hashing.polyHashSql("tok")} % $dim AS b
    |  FROM (SELECT doc_id, source, lang,
    |          unnest(str_split(text, ' ')) AS tok FROM documents)),
    |counts AS (
    |  SELECT b, count(*) AS cr,
    |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
    |  FROM toks WHERE $fitPred GROUP BY b),
    |tot AS (SELECT coalesce(sum(cr), 0) AS nr, coalesce(sum(ct), 0) AS nt
    |        FROM counts),
    |-- dense over ALL dim buckets: a bucket the fit side never saw
    |-- still gets its smoothed LLR (the Spark literal table is dense),
    |-- so incremental batches with novel buckets score identically
    |dense AS (
    |  SELECT CAST(i AS BIGINT) AS b, coalesce(cr, 0) AS cr,
    |    coalesce(ct, 0) AS ct
    |  FROM (SELECT unnest(range($dim)) AS i)
    |  LEFT JOIN counts ON counts.b = i),
    |llr AS (
    |  SELECT b, CAST(round(
    |    (ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + $dim AS DOUBLE)) -
    |     ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + $dim AS DOUBLE))) * 1e6)
    |    AS BIGINT) AS llr
    |  FROM dense, tot),
    |perdoc AS (
    |  SELECT doc_id, g, b, count(*) AS c FROM toks
    |  WHERE $scorePred GROUP BY 1, 2, 3),
    |w AS (
    |  SELECT doc_id, g, CAST(sum(c) AS BIGINT) AS n_toks,
    |    CAST(sum(c * llr) AS BIGINT) AS w_fp
    |  FROM perdoc JOIN llr USING (b) GROUP BY doc_id, g),
    |r AS (
    |  SELECT doc_id, n_toks, w_fp,
    |    row_number() OVER (PARTITION BY g ORDER BY w_fp DESC, doc_id) AS rn,
    |    count(*) OVER (PARTITION BY g) AS cnt
    |  FROM w)
    |SELECT doc_id, n_toks, w_fp,
    |  CAST(CASE WHEN rn <= (cnt + 3) // 4 THEN 1 ELSE 0 END AS BIGINT)
    |    AS selected
    |FROM r ORDER BY doc_id
    |""".stripMargin.trim

  /** Zipf bands — the vocabulary split every tokenizer / embedding
    * budget decision starts from: words ranked by corpus frequency
    * and banded by CUMULATIVE token-mass share (head ≤ 50%,
    * middle ≤ 90%, tail the rest — the [[Profiler.paretoAbc]] banding
    * applied to the vocabulary), with type counts, token mass, and
    * exact ppm share per band. A healthy natural-language corpus
    * puts few hundred types in the head; a corpus whose head is ONE
    * type is template spam. Frequency rollup + the two-phase global
    * cumsum over (count desc, word) + one 3-row fold. */
  /** Deterministic trainer-shard assignment with a balance audit:
    * docs ranked by token count DESC (two-phase
    * [[Profiler.globalCumsum]], never a single-task sort; doc id
    * breaks ties) and dealt round-robin by rank across `nShards` —
    * the folded-deal approximation of LPT greedy bin packing that
    * needs NO sequential state: the k-th heaviest doc lands in shard
    * (k−1) mod n, so each shard receives one doc from every
    * n-wide weight band. Output per shard: doc count, token mass,
    * and the signed imbalance vs the ideal even share in ppm
    * (decimal-folded) — the number that decides whether stragglers
    * will gate the training epoch. Assignment is reproducible from
    * the corpus alone (no RNG), so shard manifests regenerate
    * bit-identically. */
  def shardBalance(docs: DataFrame, id: Column, text: Column,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val perDoc = docs.select(id.cast("long").as("doc_id"),
      size(Dedup.words(text)).cast("long").as("toks"))
    val ranked = Profiler.globalCumsum(perDoc,
      Seq(-col("toks"), col("doc_id")), lit(1L), "rk")
    val total = perDoc.agg(sum(col("toks")).cast("long").as("__total"))
    ranked
      .withColumn("shard", expr(s"(rk - 1) % $nShards").cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("toks")).cast("long").as("shard_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("imbalance_ppm", expr(
        s"(cast(shard_tokens as decimal(38,0)) * $nShards * 1000000) " +
          "div __total - 1000000").cast("long"))
      .select("shard", "n_docs", "shard_tokens", "imbalance_ppm")
  }

  /** DuckDB twin of [[shardBalance]] over `documents`. */
  def shardBalanceOracleSql(nShards: Int): String =
    s"""
    |WITH d AS (
    |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    |    CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
    |  FROM documents),
    |r AS (
    |  SELECT doc_id, toks,
    |    row_number() OVER (ORDER BY toks DESC, doc_id) AS rk
    |  FROM d),
    |g AS (
    |  SELECT CAST((rk - 1) % $nShards AS BIGINT) AS shard,
    |    CAST(count(*) AS BIGINT) AS n_docs,
    |    CAST(sum(toks) AS BIGINT) AS shard_tokens
    |  FROM r GROUP BY 1)
    |SELECT shard, n_docs, shard_tokens,
    |  CAST(CAST(shard_tokens AS HUGEINT) * $nShards * 1000000
    |       // (SELECT sum(toks) FROM d) - 1000000 AS BIGINT)
    |    AS imbalance_ppm
    |FROM g ORDER BY shard
    |""".stripMargin.trim

  /** Per-domain document cap — the web-crawl curation rule that stops
    * one prolific host from dominating the mixture: within each
    * `domain` keep the `cap` best documents by
    * ([[TextAnalysis.qualityPpmFrom]] DESC, doc id ASC). Emits the
    * kept rows with their within-domain rank, so downstream stages
    * join on doc_id to apply the cut. One hash shuffle on domain +
    * one bounded window; output ≤ |domains|·cap rows. The exact-ppm
    * quality (not the float score) is what makes the rank boundary
    * engine-stable: ties at the cap edge are broken by an integer
    * compare both engines replay identically. */
  def domainCap(docs: DataFrame, id: Column, text: Column,
                domain: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val scored = docs.withColumn("__w", Dedup.words(text))
      .select(domain.as("domain"), id.cast("long").as("doc_id"),
        TextAnalysis.qualityPpmFrom(col("__w")).as("q_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("q_ppm").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
  }

  /** Incremental [[domainCap]]: a delta of new documents arrives and
    * the keep-sets must be refreshed WITHOUT rescoring the whole
    * corpus. A domain's keep-set depends only on its own documents,
    * so only domains PRESENT IN THE DELTA recompute (over base+delta)
    * while every untouched domain carries its base keep-set forward
    * verbatim — the work is O(affected domains' rows), not O(corpus).
    * The affected-domain list broadcasts (bounded by the delta's
    * distinct domains). Declared-query contract: the result is
    * row-identical to a full [[domainCap]] recompute over base∪delta,
    * which is exactly what the oracle replays — the incremental path
    * can never drift from the batch semantics without failing the
    * gate. */
  def domainCapIncremental(base: DataFrame, delta: DataFrame,
                           id: Column, text: Column, domain: Column,
                           cap: Int): DataFrame = {
    val affected = delta.select(domain.as("__dom")).distinct()
    val touched = base.unionByName(delta)
      .join(broadcast(affected), domain === col("__dom"), "left_semi")
    val untouched = base
      .join(broadcast(affected), domain === col("__dom"), "left_anti")
    domainCap(touched, id, text, domain, cap)
      .unionByName(domainCap(untouched, id, text, domain, cap))
  }

  /** DuckDB twin of [[domainCap]] over `documents` with
    * `source` as the domain. */
  def domainCapOracleSql(cap: Int): String =
    s"""
    |WITH q AS (
    |  SELECT source AS domain, CAST(doc_id AS BIGINT) AS doc_id,
    |    ${TextAnalysis.qualityPpmSql("text")} AS q_ppm
    |  FROM documents),
    |r AS (
    |  SELECT *, CAST(row_number() OVER (PARTITION BY domain
    |    ORDER BY q_ppm DESC, doc_id) AS BIGINT) AS rk
    |  FROM q)
    |SELECT domain, doc_id, q_ppm, rk FROM r
    |WHERE rk <= $cap
    |ORDER BY domain, rk
    |""".stripMargin.trim

  def zipfBands(docs: DataFrame, text: Column): DataFrame = {
    val counts = docs
      .select(explode(Dedup.words(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val cum = Profiler.globalCumsum(counts,
      Seq(col("cnt").desc, col("w").asc), col("cnt"), "cum")
    val total = counts.agg(sum(col("cnt")).cast("long").as("__total"))
    cum.crossJoin(broadcast(total))
      // decimal(38,0) fold: cum approaches the total token mass, and
      // cum*1e6 overflows Long past ~9e12 tokens (~55 TB of text) —
      // the DuckDB twin is already safe (sum(BIGINT) -> HUGEINT)
      .withColumn("cum_ppm",
        expr("cast(cum as decimal(38,0)) * 1000000 div __total"))
      .withColumn("band",
        when(col("cum_ppm") <= 500000, "head")
          .when(col("cum_ppm") <= 900000, "middle")
          .otherwise("tail"))
      .groupBy("band")
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum(col("cnt")).cast("long").as("n_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm",
        expr("(cast(n_tokens as decimal(38,0)) * 1000000) div __total")
          .cast("long"))
      .select("band", "n_types", "n_tokens", "share_ppm")
  }

  /** DuckDB twin of [[zipfBands]] over `documents`. */
  val zipfBandsOracleSql: String =
    """
    |WITH counts AS (
    |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
    |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
    |  GROUP BY w),
    |cum AS (
    |  SELECT w, cnt,
    |    sum(cnt) OVER (ORDER BY cnt DESC, w) AS cum,
    |    sum(cnt) OVER () AS total
    |  FROM counts),
    |banded AS (
    |  SELECT cnt, total,
    |    CASE WHEN cum * 1000000 // total <= 500000 THEN 'head'
    |         WHEN cum * 1000000 // total <= 900000 THEN 'middle'
    |         ELSE 'tail' END AS band
    |  FROM cum)
    |SELECT band, CAST(count(*) AS BIGINT) AS n_types,
    |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
    |  CAST(sum(cnt) * 1000000 // any_value(total) AS BIGINT) AS share_ppm
    |FROM banded GROUP BY band
    |ORDER BY band
    |""".stripMargin.trim

  /** Curriculum manifest — the ORDERED twin of [[epochShuffle]]:
    * docs ranked best-quality-first (the easy→hard / clean→noisy
    * curriculum a staged training run consumes), with the exact
    * global position, a balanced contiguous shard assignment (the
    * explicit ntile formula — shard 0 holds the highest-quality
    * block), and the within-shard position. Rank is the two-phase
    * range cumsum ([[Profiler.globalCumsum]] — never a single-task
    * sort of the corpus); the quality key is the deterministic
    * [[TextAnalysis.qualityFeatures]] composite with doc_id
    * tie-break. One extra shard-bounded window for the local
    * position. */
  def curriculumManifest(docs: DataFrame, id: Column, text: Column,
                         nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val q = TextAnalysis.qualityFeatures(
        docs.select(id.as("doc_id"), text.as("__text")), col("__text"))
      .select(col("doc_id"), col("quality_score"))
    val n = q.agg(count(lit(1)).as("__n"))
    val ranked = Profiler.globalCumsum(q,
        Seq(col("quality_score").desc, col("doc_id").asc), lit(1L),
        "global_pos")
      .crossJoin(broadcast(n))
      .withColumn("shard",
        expr(s"((global_pos - 1) * $nShards) div __n"))
    val wShard = Window.partitionBy(col("shard"))
      .orderBy(col("global_pos"))
    ranked.select(col("doc_id"), col("quality_score"),
        col("global_pos").cast("long").as("global_pos"),
        col("shard").cast("long").as("shard"))
      .withColumn("pos_in_shard",
        row_number().over(wShard).cast("long"))
  }

  /** DuckDB twin of [[curriculumManifest]] over `documents`. */
  def curriculumManifestOracleSql(nShards: Int): String =
    s"""
    |WITH q AS (
    |  SELECT doc_id, ${TextAnalysis.qualityFeaturesSqlColumns}
    |  FROM documents),
    |ranked AS (
    |  SELECT doc_id, quality_score,
    |    CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
    |      AS BIGINT) AS global_pos
    |  FROM q),
    |sharded AS (
    |  SELECT *, CAST((global_pos - 1) * $nShards
    |    // (SELECT count(*) FROM q) AS BIGINT) AS shard
    |  FROM ranked)
    |SELECT doc_id, quality_score, global_pos, shard,
    |  CAST(row_number() OVER (PARTITION BY shard ORDER BY global_pos)
    |    AS BIGINT) AS pos_in_shard
    |FROM sharded ORDER BY doc_id
    |""".stripMargin.trim
}
