package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label-based retrieval evaluation over the embedding table — the
  * EMBEDDING-quality eval, distinct from the index-quality audits
  * (`ann_recall` and friends compare an ANN index against brute
  * force; this compares brute force against ground truth).
  *
  * With labels as relevance (same label = relevant), the standard
  * eval is: rank the corpus by exact cosine for each query, find the
  * first relevant hit, report reciprocal rank. A retrieval-training
  * pipeline runs exactly this after each embedding refresh — a
  * falling MRR means the new embedding is worse at putting relatives
  * first, whatever the ANN index does downstream.
  *
  * Exactness: the cosine is the decimal-dot/correctly-rounded-sqrt
  * double of [[Similarity.cosineTopK]] (bit-identical across
  * engines), ranks tie-break by candidate id, and the reciprocal
  * rank is integer ppm (`1e6 DIV rank`) — no float averaging
  * anywhere.
  *
  * Scale shape: the query side is BOUNDED and broadcast; the corpus
  * streams through ONE scored scan (spread like every brute-force
  * family member), one window ranks per query, and the relevant-hit
  * reduction is a keyed min — |Q| output rows. Queries whose label
  * has no other member emit no row (no relevant document exists;
  * oracle mirrors). */
object RetrievalEval {

  /** Per-query first-relevant rank + reciprocal rank (ppm):
    * `(query_id, label, first_rel_rank, rr_ppm)` for queries
    * `vec_id < qMax`. */
  def labelMrr(emb: DataFrame, qMax: Long): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    Similarity.scoredPairs(emb, emb.filter(col("vec_id") < qMax),
        qCarry = Seq("label"), cCarry = Seq("label"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("c_label") === col("q_label"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(min(col("rank")).as("first_rel_rank"))
      .select(col("query_id"), col("q_label").as("label"),
        col("first_rel_rank"),
        expr("1000000 DIV first_rel_rank").as("rr_ppm"))
  }

  /** Inter-label centroid separation, float-free: for every label
    * pair, the squared cosine between centroid vectors in exact ppm
    * (`(dot² · 1e6) DIV (‖a‖²·‖b‖²)`) plus the dot's sign — the
    * embedding-quality audit that complements [[labelMrr]]: MRR reads
    * per-query rank quality, this reads whether the CLASSES are
    * globally separated at all (two labels whose centroids run near
    * parallel are classes the embedding cannot distinguish).
    *
    * cos² avoids any sqrt/double: centroids are 1e6-scale integer
    * means from the grouped moment relation ([[Pca.momentsBy]] — one
    * corpus pass, |labels|·d cells), all pairwise math is decimal
    * integer, and the NULL sentinel covers a zero-norm centroid on
    * BOTH engines. |labels|² output rows — driver-scale by the
    * bounded-label contract. */
  def labelSeparation(emb: DataFrame, dim: Int): DataFrame = {
    val m = Pin.pin(Pca.momentsBy(emb, col("label"), col("vec_id"),
      col("embedding"), dim))
    val s1 = m.filter(col("j") === 0)
    val n = s1.filter(col("i") === 1)
      .select(col("grp"), col("cnt").as("n"))
    val cent = s1.join(broadcast(n), Seq("grp"))
      .select(col("grp"), col("i"), expr("CAST(s DIV n AS BIGINT)").as("c"))
    val a = cent.select(col("grp").as("la"), col("i"),
      col("c").as("ca"))
    val b = cent.select(col("grp").as("lb"), col("i"),
      col("c").as("cb"))
    a.join(b, Seq("i")).filter(col("la") < col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(
        sum((col("ca") * col("cb")).cast(DecimalType38)).as("dot"),
        sum((col("ca") * col("ca")).cast(DecimalType38)).as("da"),
        sum((col("cb") * col("cb")).cast(DecimalType38)).as("db"))
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        expr("CASE WHEN dot < 0 THEN -1L WHEN dot > 0 THEN 1L " +
          "ELSE 0L END").as("sgn"),
        expr("CASE WHEN da * db = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST((dot * dot * 1000000) DIV (da * db) AS BIGINT) " +
          "END").as("cos2_ppm"))
  }

  private val DecimalType38 =
    org.apache.spark.sql.types.DecimalType(38, 0)

  /** DuckDB twin of [[labelSeparation]]. */
  def labelSeparationOracleSql(dim: Int): String =
    s"""
    |WITH xq AS MATERIALIZED (
    |  SELECT label AS grp, vec_id, CAST(i AS BIGINT) AS i,
    |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS HUGEINT)
    |      AS q
    |  FROM embeddings, range(1, ${dim + 1}) t(i)),
    |cent AS MATERIALIZED (
    |  SELECT grp, i,
    |    sum(q) // CAST(count(DISTINCT vec_id) AS HUGEINT) AS c
    |  FROM xq GROUP BY grp, i),
    |pairs AS (
    |  SELECT a.grp AS label_a, b.grp AS label_b,
    |    sum(a.c * b.c) AS dot, sum(a.c * a.c) AS da,
    |    sum(b.c * b.c) AS db
    |  FROM cent a JOIN cent b ON a.i = b.i AND a.grp < b.grp
    |  GROUP BY a.grp, b.grp)
    |SELECT label_a, label_b,
    |  CAST(CASE WHEN dot < 0 THEN -1 WHEN dot > 0 THEN 1 ELSE 0 END
    |    AS BIGINT) AS sgn,
    |  CASE WHEN da * db = 0 THEN CAST(NULL AS BIGINT)
    |       ELSE CAST((dot * dot * 1000000) // (da * db) AS BIGINT)
    |  END AS cos2_ppm
    |FROM pairs ORDER BY label_a, label_b
    |""".stripMargin.trim

  /** Sampled pair-cosine histogram — the similarity-DENSITY
    * pre-flight: before picking an LSH band threshold, a SemDeDup
    * epsilon, or a near-dup cutoff, a deployment needs the shape of
    * the cosine distribution between UNRELATED vectors (how much
    * accidental similarity the space carries). This is that shape as
    * a 20-bin census over hash-adjacent sampled pairs.
    *
    * Sampling is scale-clean by construction: vectors sample by a
    * [[graft.functions.Hashing.permBucket]] predicate (rate = the
    * declared 1/sampleMod), land in `parts` hash partitions, and
    * pair with their NEIGHBOR IN HASH ORDER inside each partition —
    * a keyed window, so pairs ≈ sample − parts with zero self-join
    * and no global sort; hash order makes the pairing
    * as-if-random while staying deterministic on both engines.
    * Zero vectors are excluded (no cosine exists; quantizedTopK
    * precedent). The cos double is bit-identical across engines
    * (decimal dot, correctly-rounded sqrt/divide), so bucket edges
    * cannot flip. */
  def cosHistogram(emb: DataFrame, sampleMod: Int,
                   parts: Int = 16, bins: Int = 20): DataFrame = {
    import graft.functions.Hashing
    val s = emb
      .filter(Hashing.permBucket(col("vec_id"), 1, sampleMod) === 0)
      .withColumn("__n2", Similarity.dot(col("embedding"),
        col("embedding")))
      .filter(col("__n2").cast("double") > 0.0)
      .select(col("vec_id"), col("embedding"), col("__n2"),
        Hashing.permBucket(col("vec_id"), 2, parts).as("pk"),
        Hashing.permBucket(col("vec_id"), 3, 1000000).as("h"))
    val w = Window.partitionBy(col("pk"))
      .orderBy(col("h"), col("vec_id"))
    val r = s.withColumn("rn", row_number().over(w))
    val a = r.select(col("pk"), col("rn").as("k"),
      col("embedding").as("ea"), col("__n2").as("na"))
    val b = r.select(col("pk"), (col("rn") - 1).as("k"),
      col("embedding").as("eb"), col("__n2").as("nb"))
    a.join(b, Seq("pk", "k"))
      .withColumn("cos", Similarity.cosine(
        Similarity.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .withColumn("bucket",
        least(greatest(floor((col("cos") + 1) * bins / 2), lit(0L)),
          lit((bins - 1).toLong)).cast("long"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
  }

  /** DuckDB twin of [[cosHistogram]]. */
  def cosHistogramOracleSql(dim: Int, sampleMod: Int,
                            parts: Int = 16, bins: Int = 20): String = {
    import graft.functions.Hashing
    val dot = Similarity.dotSql("a.ea", "b.eb", dim)
    s"""
    |WITH s AS MATERIALIZED (
    |  SELECT vec_id, embedding,
    |    CAST(${Similarity.dotSql("embedding", "embedding", dim)}
    |      AS DOUBLE) AS n2,
    |    ${Hashing.permBucketSql("vec_id", 2, parts)} AS pk,
    |    ${Hashing.permBucketSql("vec_id", 3, 1000000)} AS h
    |  FROM embeddings
    |  WHERE ${Hashing.permBucketSql("vec_id", 1, sampleMod)} = 0),
    |r AS MATERIALIZED (
    |  SELECT vec_id, embedding AS ea, embedding AS eb, n2, pk,
    |    row_number() OVER (PARTITION BY pk ORDER BY h, vec_id) AS rn
    |  FROM s WHERE n2 > 0),
    |scored AS (
    |  SELECT CAST($dot AS DOUBLE) / (sqrt(a.n2) * sqrt(b.n2)) AS cos
    |  FROM r a JOIN r b ON b.pk = a.pk AND b.rn = a.rn + 1)
    |SELECT CAST(least(greatest(floor((cos + 1) * $bins / 2), 0),
    |    ${bins - 1}) AS BIGINT) AS bucket,
    |  count(*) AS n_pairs
    |FROM scored GROUP BY 1 ORDER BY 1
    |""".stripMargin.trim
  }

  /** Shared ranked-top-k front of the @k metric family: exact-cosine
    * rank over the corpus for each query (the [[labelMrr]] scan
    * shape), truncated to the first `k` candidates, with the query's
    * label-population size joined on (broadcast — |labels| rows).
    * Queries whose label has no other member are excluded here ONCE
    * (no relevant document exists, so recall/nDCG/AP denominators
    * are all undefined); every derived metric inherits the rule. */
  private def rankedTopK(emb: DataFrame, qMax: Long,
                         k: Int): DataFrame =
    rankedTopKOf(emb, emb.filter(col("vec_id") < qMax), k)

  /** [[rankedTopK]] with an explicit query relation. Queries must be
    * corpus members (`n_rel` is the label population minus the query
    * itself, and the scan excludes self by `vec_id`). */
  private def rankedTopKOf(corpus: DataFrame, queries: DataFrame,
                           k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val nrel = corpus.groupBy(col("label"))
      .agg(count(lit(1)).as("__ln"))
      .select(col("label").as("q_label"),
        (col("__ln") - 1).as("n_rel"))
    Similarity.scoredPairs(corpus, queries,
        qCarry = Seq("label"), cCarry = Seq("label"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("rel",
        when(col("c_label") === col("q_label"), 1L).otherwise(0L))
      .join(broadcast(nrel), Seq("q_label"))
      .filter(col("n_rel") > 0)
  }

  /** Recall@k per query, integer ppm: of the `n_rel` corpus vectors
    * sharing the query's label, how many land in the exact-cosine
    * top `k` — `(query_id, label, n_rel, hits_at_k, recall_ppm)` with
    * `recall_ppm = hits·1e6 DIV n_rel` (the standard uncapped
    * denominator; a label bigger than k caps the achievable score at
    * k/n_rel by construction, which is the honest number — nDCG@k is
    * the capped companion). Every query keeps its row (zero hits →
    * zero recall), unlike MRR where no-hit rows cannot exist. */
  def labelRecallAtK(emb: DataFrame, qMax: Long, k: Int): DataFrame =
    rankedTopK(emb, qMax, k)
      .groupBy(col("query_id"), col("q_label"), col("n_rel"))
      .agg(sum(col("rel")).as("hits_at_k"))
      .select(col("query_id"), col("q_label").as("label"),
        col("n_rel"), col("hits_at_k"),
        expr(s"(hits_at_k * 1000000) DIV n_rel").as("recall_ppm"))

  /** Binary-relevance discounted-gain weights at 1e6 fixed point:
    * `w(i) = round(1e6 / log2(i+1))`. Computed ONCE in Scala and
    * inlined as integer literals into BOTH engines' expressions, so
    * no transcendental is ever evaluated by either engine — the
    * cross-engine exactness discipline for a formula that is
    * irreducibly logarithmic. */
  private def dcgWeights(k: Int): IndexedSeq[Long] =
    (1 to k).map(i =>
      math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** nDCG@k per query with binary relevance (same label = gain 1),
    * all-integer: `dcg_ppm` sums the literal discount weights at the
    * relevant hits' ranks, `idcg_ppm` is the weight prefix-sum at
    * `min(n_rel, k)` (the ideal ranking puts all relevant first),
    * `ndcg_ppm = dcg·1e6 DIV idcg`. Output
    * `(query_id, label, n_rel, dcg_ppm, idcg_ppm, ndcg_ppm)`. */
  def labelNdcgAtK(emb: DataFrame, qMax: Long, k: Int): DataFrame = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}L").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, ${k}L) = $i THEN ${prefix(i - 1)}L")
      .mkString(" ")
    rankedTopK(emb, qMax, k)
      .withColumn("__g",
        expr(s"CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0L END"))
      .groupBy(col("query_id"), col("q_label"), col("n_rel"))
      .agg(sum(col("__g")).as("dcg_ppm"))
      .withColumn("idcg_ppm", expr(s"CASE $pCase END"))
      .select(col("query_id"), col("q_label").as("label"),
        col("n_rel"), col("dcg_ppm"), col("idcg_ppm"),
        expr("(dcg_ppm * 1000000) DIV idcg_ppm").as("ndcg_ppm"))
  }

  /** Average precision @k per query, integer ppm: at each relevant
    * hit's rank r, precision@r = (relevant seen so far)·1e6 DIV r;
    * `ap_ppm` averages those over `min(n_rel, k)` (the best
    * achievable hit count within the cutoff). Truncating DIV at both
    * levels — per-term and the final mean — is applied identically
    * by both engines, so the metric is engine-exact. Zero-hit
    * queries keep their row with `ap_ppm = 0`. */
  def labelApAtK(emb: DataFrame, qMax: Long, k: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    rankedTopK(emb, qMax, k)
      .withColumn("__cum", sum(col("rel")).over(wc))
      .withColumn("__term",
        expr("CASE WHEN rel = 1 THEN (__cum * 1000000) DIV rank " +
          "ELSE 0L END"))
      .groupBy(col("query_id"), col("q_label"), col("n_rel"))
      .agg(sum(col("__term")).as("__s"))
      .select(col("query_id"), col("q_label").as("label"),
        col("n_rel"),
        expr(s"__s DIV least(n_rel, ${k}L)").as("ap_ppm"))
  }

  /** Corpus-level macro roll-up of the @k family — the ONE number
    * per metric a training dashboard tracks across embedding
    * refreshes: macro-averaged recall/nDCG/AP@k over the query set,
    * integer ppm, plus the query census. One [[rankedTopK]] pass
    * computes all three per-query metrics (the corpus scan is the
    * cost; running the three declared queries separately would pay
    * it three times), then one global aggregate takes
    * `sum(metric_ppm) DIV n_queries` — per-query values are
    * engine-exact by the family's contract, so the macro means are
    * too. Output: a single row
    * `(n_queries, macro_recall_ppm, macro_ndcg_ppm, macro_ap_ppm)`. */
  def labelEvalSummary(emb: DataFrame, qMax: Long, k: Int): DataFrame =
    labelEvalSummaryOf(emb, emb.filter(col("vec_id") < qMax), k)

  /** [[labelEvalSummary]] over an explicit query relation (corpus
    * members — [[rankedTopKOf]]'s contract). */
  def labelEvalSummaryOf(corpus: DataFrame, queries: DataFrame,
                         k: Int): DataFrame = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}L").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, ${k}L) = $i THEN ${prefix(i - 1)}L")
      .mkString(" ")
    val wc = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    rankedTopKOf(corpus, queries, k)
      .withColumn("__g",
        expr(s"CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0L END"))
      .withColumn("__cum", sum(col("rel")).over(wc))
      .withColumn("__apterm",
        expr("CASE WHEN rel = 1 THEN (__cum * 1000000) DIV rank " +
          "ELSE 0L END"))
      .groupBy(col("query_id"), col("n_rel"))
      .agg(sum(col("rel")).as("__hits"), sum(col("__g")).as("__dcg"),
        sum(col("__apterm")).as("__aps"))
      .select(
        expr("(__hits * 1000000) DIV n_rel").as("__recall"),
        expr(s"(__dcg * 1000000) DIV (CASE $pCase END)").as("__ndcg"),
        expr(s"__aps DIV least(n_rel, ${k}L)").as("__ap"))
      .agg(
        count(lit(1)).as("n_queries"),
        expr("sum(__recall) DIV count(1)").as("macro_recall_ppm"),
        expr("sum(__ndcg) DIV count(1)").as("macro_ndcg_ppm"),
        expr("sum(__ap) DIV count(1)").as("macro_ap_ppm"))
  }

  /** [[labelEvalSummary]] stratified by label — WHICH domain the
    * embedding is failing on: per query-label, the query census and
    * macro recall/nDCG/AP@k ppm. The corpus-level macro hides a
    * domain mixture (a strong majority class masks a minority class
    * the encoder cannot rank — the same blindness
    * [[Pca.outliersByLabel]] exists for, one metric family over);
    * this is the drill-down row a per-domain curriculum or encoder
    * triage reads. Same single ranked-top-k pass, one extra grouping
    * key. Output `(label, n_queries, macro_recall_ppm,
    * macro_ndcg_ppm, macro_ap_ppm)`, |labels| rows. */
  def labelEvalByLabel(emb: DataFrame, qMax: Long, k: Int): DataFrame = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}L").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, ${k}L) = $i THEN ${prefix(i - 1)}L")
      .mkString(" ")
    val wc = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    rankedTopK(emb, qMax, k)
      .withColumn("__g",
        expr(s"CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0L END"))
      .withColumn("__cum", sum(col("rel")).over(wc))
      .withColumn("__apterm",
        expr("CASE WHEN rel = 1 THEN (__cum * 1000000) DIV rank " +
          "ELSE 0L END"))
      .groupBy(col("q_label"), col("query_id"), col("n_rel"))
      .agg(sum(col("rel")).as("__hits"), sum(col("__g")).as("__dcg"),
        sum(col("__apterm")).as("__aps"))
      .select(col("q_label"),
        expr("(__hits * 1000000) DIV n_rel").as("__recall"),
        expr(s"(__dcg * 1000000) DIV (CASE $pCase END)").as("__ndcg"),
        expr(s"__aps DIV least(n_rel, ${k}L)").as("__ap"))
      .groupBy(col("q_label"))
      .agg(
        count(lit(1)).as("n_queries"),
        expr("sum(__recall) DIV count(1)").as("macro_recall_ppm"),
        expr("sum(__ndcg) DIV count(1)").as("macro_ndcg_ppm"),
        expr("sum(__ap) DIV count(1)").as("macro_ap_ppm"))
      .withColumnRenamed("q_label", "label")
  }

  /** DuckDB twin of [[labelEvalByLabel]]. */
  def labelEvalByLabelOracleSql(dim: Int, qMax: Long,
                                k: Int): String = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, $k) = $i THEN ${prefix(i - 1)}")
      .mkString(" ")
    s"""
    |WITH ${topkCtes(dim, qMax, k)},
    |cum AS (
    |  SELECT q_label, query_id, n_rel, rank, rel,
    |    CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0 END AS g,
    |    sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cr
    |  FROM topk),
    |perq AS (
    |  SELECT q_label, query_id, n_rel,
    |    (sum(rel) * 1000000) // n_rel AS recall_ppm,
    |    (sum(g) * 1000000) // (CASE $pCase END) AS ndcg_ppm,
    |    sum(CASE WHEN rel = 1 THEN (cr * 1000000) // rank
    |        ELSE 0 END) // least(n_rel, $k) AS ap_ppm
    |  FROM cum GROUP BY q_label, query_id, n_rel)
    |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
    |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS macro_recall_ppm,
    |  CAST(sum(ndcg_ppm) // count(*) AS BIGINT) AS macro_ndcg_ppm,
    |  CAST(sum(ap_ppm) // count(*) AS BIGINT) AS macro_ap_ppm
    |FROM perq GROUP BY q_label ORDER BY label
    |""".stripMargin.trim
  }

  /** Shared oracle CTE chain for the @k family: scored + ranked
    * (exactly [[labelMrrOracleSql]]'s front), top-k truncation, and
    * the label-population join with the no-relative exclusion. */
  private def topkCtes(dim: Int, qMax: Long, k: Int): String =
    s"""q AS (
    |  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
    |  FROM embeddings WHERE vec_id < $qMax),
    |c AS (
    |  SELECT vec_id AS cand_id, label AS c_label, embedding AS c_emb
    |  FROM embeddings),
    |scored AS (
    |  SELECT query_id, q_label, cand_id, c_label,
    |    CAST(${Similarity.dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${Similarity.dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${Similarity.dotSql("c_emb", "c_emb", dim)} AS DOUBLE)))
    |      AS cos
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, q_label, c_label,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY cos DESC, cand_id) AS rank
    |  FROM scored),
    |ln AS (
    |  SELECT label AS q_label, count(*) - 1 AS n_rel
    |  FROM embeddings GROUP BY label),
    |topk AS (
    |  SELECT r.query_id, r.q_label, r.rank, ln.n_rel,
    |    CASE WHEN r.c_label = r.q_label THEN 1 ELSE 0 END AS rel
    |  FROM ranked r JOIN ln ON ln.q_label = r.q_label
    |  WHERE r.rank <= $k AND ln.n_rel > 0)""".stripMargin

  /** DuckDB twin of [[labelRecallAtK]]. */
  def labelRecallAtKOracleSql(dim: Int, qMax: Long, k: Int): String =
    s"""
    |WITH ${topkCtes(dim, qMax, k)}
    |SELECT query_id, q_label AS label,
    |  CAST(n_rel AS BIGINT) AS n_rel,
    |  CAST(sum(rel) AS BIGINT) AS hits_at_k,
    |  CAST((sum(rel) * 1000000) // n_rel AS BIGINT) AS recall_ppm
    |FROM topk GROUP BY query_id, q_label, n_rel
    |ORDER BY query_id
    |""".stripMargin.trim

  /** DuckDB twin of [[labelNdcgAtK]] — the SAME literal weight table
    * (one Scala computation feeds both engines). */
  def labelNdcgAtKOracleSql(dim: Int, qMax: Long, k: Int): String = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, $k) = $i THEN ${prefix(i - 1)}")
      .mkString(" ")
    s"""
    |WITH ${topkCtes(dim, qMax, k)},
    |dcg AS (
    |  SELECT query_id, q_label, n_rel,
    |    sum(CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0 END)
    |      AS dcg_ppm
    |  FROM topk GROUP BY query_id, q_label, n_rel)
    |SELECT query_id, q_label AS label,
    |  CAST(n_rel AS BIGINT) AS n_rel,
    |  CAST(dcg_ppm AS BIGINT) AS dcg_ppm,
    |  CAST(CASE $pCase END AS BIGINT) AS idcg_ppm,
    |  CAST((dcg_ppm * 1000000) // (CASE $pCase END) AS BIGINT)
    |    AS ndcg_ppm
    |FROM dcg ORDER BY query_id
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[labelApAtK]]. */
  def labelApAtKOracleSql(dim: Int, qMax: Long, k: Int): String =
    s"""
    |WITH ${topkCtes(dim, qMax, k)},
    |cum AS (
    |  SELECT query_id, q_label, n_rel, rank, rel,
    |    sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cr
    |  FROM topk)
    |SELECT query_id, q_label AS label,
    |  CAST(n_rel AS BIGINT) AS n_rel,
    |  CAST(sum(CASE WHEN rel = 1 THEN (cr * 1000000) // rank
    |           ELSE 0 END) // least(n_rel, $k) AS BIGINT) AS ap_ppm
    |FROM cum GROUP BY query_id, q_label, n_rel
    |ORDER BY query_id
    |""".stripMargin.trim

  /** DuckDB twin of [[labelEvalSummary]] — the SAME literal weight
    * table, the three per-query metrics in one chain, then the macro
    * means. */
  def labelEvalSummaryOracleSql(dim: Int, qMax: Long,
                                k: Int): String = {
    val w = dcgWeights(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k).map(i =>
      s"WHEN rank = $i THEN ${w(i - 1)}").mkString(" ")
    val pCase = (1 to k).map(i =>
      s"WHEN least(n_rel, $k) = $i THEN ${prefix(i - 1)}")
      .mkString(" ")
    s"""
    |WITH ${topkCtes(dim, qMax, k)},
    |cum AS (
    |  SELECT query_id, n_rel, rank, rel,
    |    CASE WHEN rel = 1 THEN (CASE $wCase END) ELSE 0 END AS g,
    |    sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cr
    |  FROM topk),
    |perq AS (
    |  SELECT query_id, n_rel,
    |    (sum(rel) * 1000000) // n_rel AS recall_ppm,
    |    (sum(g) * 1000000) // (CASE $pCase END) AS ndcg_ppm,
    |    sum(CASE WHEN rel = 1 THEN (cr * 1000000) // rank
    |        ELSE 0 END) // least(n_rel, $k) AS ap_ppm
    |  FROM cum GROUP BY query_id, n_rel)
    |SELECT CAST(count(*) AS BIGINT) AS n_queries,
    |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS macro_recall_ppm,
    |  CAST(sum(ndcg_ppm) // count(*) AS BIGINT) AS macro_ndcg_ppm,
    |  CAST(sum(ap_ppm) // count(*) AS BIGINT) AS macro_ap_ppm
    |FROM perq
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[labelMrr]]. */
  def labelMrrOracleSql(dim: Int, qMax: Long): String =
    s"""
    |WITH q AS (
    |  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
    |  FROM embeddings WHERE vec_id < $qMax),
    |c AS (
    |  SELECT vec_id AS cand_id, label AS c_label, embedding AS c_emb
    |  FROM embeddings),
    |scored AS (
    |  SELECT query_id, q_label, cand_id, c_label,
    |    CAST(${Similarity.dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${Similarity.dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${Similarity.dotSql("c_emb", "c_emb", dim)} AS DOUBLE)))
    |      AS cos
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, q_label, c_label,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY cos DESC, cand_id) AS rank
    |  FROM scored)
    |SELECT query_id, q_label AS label,
    |  min(rank) AS first_rel_rank,
    |  1000000 // min(rank) AS rr_ppm
    |FROM ranked WHERE c_label = q_label
    |GROUP BY query_id, q_label
    |ORDER BY query_id
    |""".stripMargin.trim

  /** Hard-negative mining — the TRAINING-SET constructor the eval
    * family's machinery already prices: for each query, the top `k`
    * highest-cosine candidates whose label DIFFERS (the negatives a
    * contrastive trainer most needs: lexically/semantically close,
    * semantically wrong — Karpukhin et al. 2020's hard negatives,
    * Schroff et al. 2015's mining step). Output per (query, negative):
    * `(query_id, label, cand_id, neg_label, cos, global_rank,
    * neg_rank)` — `global_rank` the candidate's position among ALL
    * candidates (how near the decision boundary the negative sits),
    * `neg_rank` its position among negatives only.
    *
    * Scale shape: identical to the @k eval family — bounded query
    * side broadcast, ONE scored corpus scan, two windows sharing one
    * per-query exchange. At 100 TB the scan leg swaps for the ANN
    * screen (mine negatives from `ivfPqSearchPersisted`'s top-depth,
    * then label-filter) — same downstream shape, priced by
    * `ann_pq_recall`. */
  def hardNegatives(emb: DataFrame, qMax: Long, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val wn = Window.partitionBy(col("query_id"))
      .orderBy(col("global_rank").asc)
    Similarity.scoredPairs(emb, emb.filter(col("vec_id") < qMax),
        qCarry = Seq("label"), cCarry = Seq("label"))
      .withColumn("global_rank", row_number().over(w).cast("long"))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("neg_rank", row_number().over(wn).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("q_label").as("label"),
        col("cand_id"), col("c_label").as("neg_label"),
        round(col("cos"), 6).as("cos"), col("global_rank"),
        col("neg_rank"))
      .orderBy("query_id", "neg_rank")
  }

  /** DuckDB twin of [[hardNegatives]]. */
  def hardNegativesOracleSql(dim: Int, qMax: Long, k: Int): String =
    s"""
    |WITH ${scoredCtes(dim, qMax)},
    |g AS (
    |  SELECT query_id, q_label, cand_id, c_label, cos,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY cos DESC, cand_id) AS global_rank
    |  FROM scored),
    |n AS (
    |  SELECT query_id, q_label, cand_id, c_label, cos, global_rank,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY global_rank) AS neg_rank
    |  FROM g WHERE c_label <> q_label)
    |SELECT query_id, q_label AS label, cand_id,
    |  c_label AS neg_label, round(cos, 6) AS cos,
    |  global_rank, neg_rank
    |FROM n WHERE neg_rank <= $k
    |ORDER BY query_id, neg_rank
    |""".stripMargin.trim

  /** [[hardNegatives]] routed through the PERSISTED IVF-PQ index —
    * the scale path the brute form's scaladoc declares, delivered:
    * the candidate pool is the index's top-`depth` ANN shortlist
    * (nProbe cells + bounded exact re-rank, never a corpus scan of
    * cosines), then the same label-filter + dense re-rank. Negatives
    * the index fails to surface are missed by declared contract —
    * that approximation is priced by `ann_pq_recall`, and for THIS
    * consumer it is benign in the useful direction: ANN recall decays
    * for far-away candidates, and far-away negatives are the easy
    * ones a trainer doesn't need. `index_rank` is the candidate's
    * position in the ANN shortlist. */
  def hardNegativesPq(spark: org.apache.spark.sql.SparkSession,
                      pqDir: String, emb: DataFrame, qMax: Long,
                      k: Int, depth: Int, nProbe: Int, m: Int,
                      dim: Int, rerank: Int): DataFrame = {
    val hits = Similarity.ivfPqSearchPersisted(spark, pqDir, emb,
      emb.filter(col("vec_id") < qMax), depth, nProbe, m, dim, rerank)
    // both joins keep the BOUNDED relation (≤ qMax·depth hit rows) on
    // the broadcast side; the corpus-scale label table streams
    val withQ = hits.join(
      broadcast(emb.filter(col("vec_id") < qMax)
        .select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), Seq("query_id"))
    val wn = Window.partitionBy(col("query_id"))
      .orderBy(col("rank").asc)
    emb.select(col("vec_id").as("cand_id"), col("label").as("c_label"))
      .join(broadcast(withQ), Seq("cand_id"))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("neg_rank", row_number().over(wn).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("q_label").as("label"),
        col("cand_id"), col("c_label").as("neg_label"), col("cos"),
        col("rank").as("index_rank"), col("neg_rank"))
      .orderBy("query_id", "neg_rank")
  }

  /** Recall audit of the mining path: per query, how many of the
    * brute [[hardNegatives]] top-k the index-screened
    * [[hardNegativesPq]] recovers — the measured check behind the
    * scaladoc's "missed far negatives are the easy ones" claim (the
    * claim is about WHICH negatives are missed; this number is how
    * many). The `ann_pq_recall` discipline applied to the mining
    * consumer: every approximate path ships with its own audit. */
  def hardNegativesPqRecall(spark: org.apache.spark.sql.SparkSession,
                            pqDir: String, emb: DataFrame, qMax: Long,
                            k: Int, depth: Int, nProbe: Int, m: Int,
                            dim: Int, rerank: Int): DataFrame = {
    val exact = hardNegatives(emb, qMax, k)
      .select(col("query_id"), col("cand_id"))
    val approx = hardNegativesPq(spark, pqDir, emb, qMax, k, depth,
        nProbe, m, dim, rerank)
      .select(col("query_id"), col("cand_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("n_hits", col("n_hits").cast("long"))
      .withColumn("recall_at_k",
        col("n_hits").cast("double") / lit(k).cast("double"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[hardNegativesPqRecall]] — brute and PQ mining
    * CTE chains joined (fresh names: the PQ CTEs own `q`/`c`). */
  def hardNegativesPqRecallOracleSql(dim: Int, qMax: Long, k: Int,
                                     depth: Int, nCentroids: Int,
                                     nProbe: Int, m: Int, ksub: Int,
                                     rerank: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${Similarity.dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${Similarity.dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${Similarity.dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH ${Similarity.ivfPqOracleCtes(dim, depth, "TRUE",
        s"vec_id < $qMax", nCentroids, nProbe, m, ksub, rerank)},
    |bq AS (SELECT vec_id AS query_id, label AS q_label,
    |    embedding AS q_emb FROM embeddings WHERE vec_id < $qMax),
    |bc AS (SELECT vec_id AS cand_id, label AS c_label,
    |    embedding AS c_emb FROM embeddings),
    |bg AS (
    |  SELECT query_id, cand_id, q_label, c_label,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS grank
    |  FROM bc, bq WHERE query_id <> cand_id),
    |bneg AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY grank) AS nrank
    |  FROM bg WHERE c_label <> q_label),
    |exact AS (SELECT query_id, cand_id FROM bneg WHERE nrank <= $k),
    |lbl AS (SELECT vec_id, label FROM embeddings),
    |pneg AS (
    |  SELECT p.query_id, p.cand_id,
    |    row_number() OVER (PARTITION BY p.query_id
    |                       ORDER BY p.rank) AS nrank
    |  FROM pq_ranked p
    |  JOIN lbl ql ON ql.vec_id = p.query_id
    |  JOIN lbl cl ON cl.vec_id = p.cand_id
    |  WHERE p.rank <= $depth AND cl.label <> ql.label),
    |approx AS (SELECT query_id, cand_id FROM pneg WHERE nrank <= $k)
    |SELECT e.query_id, CAST(count(a.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(a.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN approx a
    |  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    |GROUP BY e.query_id ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** Batch-hard triplet statistics (Hermans et al. 2017): per query,
    * the HARDEST positive (lowest same-label cosine — the relative
    * the embedding holds furthest) and the HARDEST negative (highest
    * different-label cosine — the impostor it holds closest), plus
    * the two flags a triplet-loss curriculum reads:
    * `violating` (hardest negative closer than hardest positive
    * minus margin — this anchor still teaches the model) and
    * `semi_hard` (negative inside the margin band but not past the
    * positive — Schroff et al. 2015's preferred mining regime).
    * A corpus whose `violating` count reaches zero has converged
    * past this margin; that count over refreshes is the mining
    * family's dashboard number.
    *
    * Flags compare RAW doubles (bit-identical across engines by the
    * decimal-dot/correctly-rounded-sqrt contract) against a literal
    * margin; the reported cosines round to 6 decimals like every
    * sibling. Queries whose label has no other member emit no row
    * (no positive exists; oracle mirrors). */
  def tripletMining(emb: DataFrame, qMax: Long,
                    marginMilli: Int): DataFrame = {
    val margin = lit(marginMilli).cast("double") / lit(1000.0)
    Similarity.scoredPairs(emb, emb.filter(col("vec_id") < qMax),
        qCarry = Seq("label"), cCarry = Seq("label"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(
        min(when(col("c_label") === col("q_label"), col("cos")))
          .as("__pos"),
        max(when(col("c_label") =!= col("q_label"), col("cos")))
          .as("__neg"))
      .filter(col("__pos").isNotNull && col("__neg").isNotNull)
      .select(col("query_id"), col("q_label").as("label"),
        round(col("__pos"), 6).as("hardest_pos_cos"),
        round(col("__neg"), 6).as("hardest_neg_cos"),
        when(col("__neg") > col("__pos") - margin, 1L).otherwise(0L)
          .as("violating"),
        when(col("__neg") > col("__pos") - margin &&
          col("__neg") < col("__pos"), 1L).otherwise(0L)
          .as("semi_hard"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[hardNegativesPq]] — the [[Similarity]] PQ
    * ranking CTEs composed with the label filter. */
  def hardNegativesPqOracleSql(dim: Int, qMax: Long, k: Int,
                               depth: Int, nCentroids: Int, nProbe: Int,
                               m: Int, ksub: Int, rerank: Int): String =
    s"""
    |WITH ${Similarity.ivfPqOracleCtes(dim, depth, "TRUE",
        s"vec_id < $qMax", nCentroids, nProbe, m, ksub, rerank)},
    |lbl AS (SELECT vec_id, label FROM embeddings),
    |n AS (
    |  SELECT p.query_id, ql.label AS q_label, p.cand_id,
    |    cl.label AS c_label, round(p.cos, 6) AS cos,
    |    p.rank AS index_rank,
    |    row_number() OVER (PARTITION BY p.query_id
    |                       ORDER BY p.rank) AS neg_rank
    |  FROM pq_ranked p
    |  JOIN lbl ql ON ql.vec_id = p.query_id
    |  JOIN lbl cl ON cl.vec_id = p.cand_id
    |  WHERE p.rank <= $depth AND cl.label <> ql.label)
    |SELECT query_id, q_label AS label, cand_id, c_label AS neg_label,
    |  cos, index_rank, neg_rank
    |FROM n WHERE neg_rank <= $k
    |ORDER BY query_id, neg_rank
    |""".stripMargin.trim

  /** Trainer-ready triplet manifest — the mining shelf's last mile
    * (the `corpus_pack` role for contrastive training): one row per
    * anchor with its HARDEST positive (min same-label cosine — the
    * batch-hard choice of Hermans et al. 2017) and the ordered
    * semi-hard negatives (different label, cosine inside
    * `(pos_cos − margin, pos_cos)` — Schroff et al. 2015's regime),
    * hardest first, capped at `maxNegs`. Anchors with no positive or
    * an empty band emit no row (a triplet needs all three legs;
    * oracle mirrors). Negatives ship as a comma-joined id string
    * (the chunkScrub convention for list outputs — engine-exact
    * compare without list-type hashing).
    *
    * Scale shape: one scored corpus scan (the eval family's bounded
    * broadcast-query contract), positives and band filters are
    * column predicates on it, and the per-anchor fold touches ≤
    * |band| rows. At 100 TB the scan leg swaps for the PQ screen
    * exactly as [[hardNegativesPq]] — with [[hardNegativesPqRecall]]
    * pricing what the band then misses. */
  def tripletManifest(emb: DataFrame, qMax: Long, marginMilli: Int,
                      maxNegs: Int): DataFrame = {
    val margin = lit(marginMilli).cast("double") / lit(1000.0)
    val scored = Pin.pin(Similarity.scoredPairs(emb,
        emb.filter(col("vec_id") < qMax),
        qCarry = Seq("label"), cCarry = Seq("label")))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").asc, col("cand_id").asc)
    val pos = scored.filter(col("c_label") === col("q_label"))
      .withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") === 1)
      .select(col("query_id"), col("q_label"),
        col("cand_id").as("pos_id"), col("cos").as("__pos_cos"))
    val wn = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val negs = scored.filter(col("c_label") =!= col("q_label"))
      .join(broadcast(pos.select(col("query_id"), col("__pos_cos"))),
        Seq("query_id"))
      .filter(col("cos") < col("__pos_cos") &&
        col("cos") > col("__pos_cos") - margin)
      .withColumn("__nr", row_number().over(wn))
      .filter(col("__nr") <= maxNegs)
    negs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_negs"),
        array_join(transform(
          sort_array(collect_list(struct(col("__nr"), col("cand_id")))),
          s => s.getField("cand_id").cast("string")), ",")
          .as("negatives"))
      .join(broadcast(pos), Seq("query_id"))
      .select(col("query_id"), col("q_label").as("label"),
        col("pos_id"), round(col("__pos_cos"), 6).as("pos_cos"),
        col("negatives"), col("n_negs"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[tripletManifest]]. */
  def tripletManifestOracleSql(dim: Int, qMax: Long, marginMilli: Int,
                               maxNegs: Int): String =
    s"""
    |WITH ${scoredCtes(dim, qMax)},
    |pos AS (
    |  SELECT query_id, q_label, cand_id AS pos_id, cos AS pos_cos
    |  FROM (
    |    SELECT query_id, q_label, cand_id, cos,
    |      row_number() OVER (PARTITION BY query_id
    |                         ORDER BY cos ASC, cand_id) AS pr
    |    FROM scored WHERE c_label = q_label)
    |  WHERE pr = 1),
    |negs AS (
    |  SELECT s.query_id, s.cand_id, nr FROM (
    |    SELECT s.query_id, s.cand_id,
    |      row_number() OVER (PARTITION BY s.query_id
    |                         ORDER BY s.cos DESC, s.cand_id) AS nr
    |    FROM scored s JOIN pos p ON p.query_id = s.query_id
    |    WHERE s.c_label <> s.q_label
    |      AND s.cos < p.pos_cos
    |      AND s.cos > p.pos_cos - $marginMilli / 1000.0) s
    |  WHERE nr <= $maxNegs)
    |SELECT p.query_id, p.q_label AS label, p.pos_id,
    |  round(p.pos_cos, 6) AS pos_cos,
    |  array_to_string(list(n.cand_id ORDER BY n.nr), ',') AS negatives,
    |  CAST(count(*) AS BIGINT) AS n_negs
    |FROM negs n JOIN pos p ON p.query_id = n.query_id
    |GROUP BY p.query_id, p.q_label, p.pos_id, p.pos_cos
    |ORDER BY p.query_id
    |""".stripMargin.trim

  /** Corpus-level roll-up of [[tripletMining]] — the ONE number per
    * refresh the mining dashboard tracks: how many anchors still
    * violate the margin (still carry training signal) and how many
    * sit in the semi-hard band, as counts and ppm of anchors. */
  def tripletMiningSummary(emb: DataFrame, qMax: Long,
                           marginMilli: Int): DataFrame =
    tripletMining(emb, qMax, marginMilli)
      .agg(count(lit(1)).as("n_anchors"),
        sum(col("violating")).as("n_violating"),
        sum(col("semi_hard")).as("n_semi_hard"))
      .select(col("n_anchors"), col("n_violating"), col("n_semi_hard"),
        expr("n_violating * 1000000 DIV n_anchors").as("violating_ppm"),
        expr("n_semi_hard * 1000000 DIV n_anchors").as("semi_hard_ppm"))

  /** DuckDB twin of [[tripletMiningSummary]]. */
  def tripletMiningSummaryOracleSql(dim: Int, qMax: Long,
                                    marginMilli: Int): String =
    s"""
    |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
    |  CAST(sum(violating) AS BIGINT) AS n_violating,
    |  CAST(sum(semi_hard) AS BIGINT) AS n_semi_hard,
    |  CAST(sum(violating) * 1000000 // count(*) AS BIGINT)
    |    AS violating_ppm,
    |  CAST(sum(semi_hard) * 1000000 // count(*) AS BIGINT)
    |    AS semi_hard_ppm
    |FROM (${tripletMiningOracleSql(dim, qMax, marginMilli)
      .replace("\n", "\n|")})
    |""".stripMargin.trim

  /** DuckDB twin of [[tripletMining]]. */
  def tripletMiningOracleSql(dim: Int, qMax: Long,
                             marginMilli: Int): String =
    s"""
    |WITH ${scoredCtes(dim, qMax)},
    |agg AS (
    |  SELECT query_id, q_label,
    |    min(CASE WHEN c_label = q_label THEN cos END) AS pos,
    |    max(CASE WHEN c_label <> q_label THEN cos END) AS neg
    |  FROM scored GROUP BY query_id, q_label)
    |SELECT query_id, q_label AS label,
    |  round(pos, 6) AS hardest_pos_cos,
    |  round(neg, 6) AS hardest_neg_cos,
    |  CASE WHEN neg > pos - $marginMilli / 1000.0
    |    THEN 1 ELSE 0 END::BIGINT AS violating,
    |  CASE WHEN neg > pos - $marginMilli / 1000.0 AND neg < pos
    |    THEN 1 ELSE 0 END::BIGINT AS semi_hard
    |FROM agg WHERE pos IS NOT NULL AND neg IS NOT NULL
    |ORDER BY query_id
    |""".stripMargin.trim

  /** LEXICAL retrieval eval — the BM25 side of the shelf ([[labelMrr]]
    * measures the embedding; nothing measured the sparse path until
    * this): each query document's `nTerms` RAREST terms (min corpus
    * df, term tie-break — §52's selective regime, the query class an
    * inverted index serves) search the PERSISTED index via the batch
    * form ([[Lexical.lexSearchMany]], one postings pass for all
    * queries), self excluded and the list re-ranked, and the first
    * same-`source` hit reports reciprocal rank in integer ppm. A
    * falling macro over index generations means the lexical path
    * surfaces same-provenance documents worse — the sparse twin of
    * the embedding-refresh canary. Queries with no same-source hit
    * in the top `depth` emit no row (MRR@depth contract; oracle
    * mirrors). */
  def lexRetrievalMrr(spark: org.apache.spark.sql.SparkSession,
                      lexDir: String, docs: DataFrame, qMax: Long,
                      nTerms: Int = 3, depth: Int = 20,
                      nBuckets: Int = 64): DataFrame = {
    val termsAll = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val dfx = termsAll.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("__df").asc, col("term").asc)
    val qt = termsAll.filter(col("doc_id") < qMax)
      .join(dfx, "term")
      .withColumn("__trank", row_number().over(wq))
      .filter(col("__trank") <= nTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    val ranked = Lexical.lexSearchMany(spark, lexDir, qt, depth,
        nBuckets)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rank2", row_number().over(wr).cast("long"))
    val qsrc = docs.filter(col("doc_id") < qMax)
      .select(col("doc_id").as("query_id"),
        col("source").as("q_source"))
    val csrc = docs.select(col("doc_id"), col("source").as("c_source"))
    // ranked is bounded (≤ qMax·depth): broadcast it into the
    // corpus-side source join, never the reverse
    csrc.join(broadcast(ranked.join(broadcast(qsrc), Seq("query_id"))),
        Seq("doc_id"))
      .filter(col("c_source") === col("q_source"))
      .groupBy(col("query_id"), col("q_source"))
      .agg(min(col("rank2")).as("first_rel_rank"))
      .select(col("query_id"), col("q_source").as("source"),
        col("first_rel_rank"),
        expr("1000000 DIV first_rel_rank").as("rr_ppm"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[lexRetrievalMrr]] — the full chain: rarest-term
    * query construction, the exact BM25 fixed point of
    * [[Lexical.lexSearchManyOracleSql]], self-exclusion re-rank,
    * first same-source reduction. */
  def lexRetrievalMrrOracleSql(qMax: Long, nTerms: Int = 3,
                               depth: Int = 20): String =
    s"""
    |WITH w AS (
    |  SELECT doc_id, source, str_split(text, ' ') AS w FROM documents),
    |stats AS (
    |  SELECT CAST(count(*) AS BIGINT) AS n,
    |    greatest(1, sum(len(w)) * 1000000 // count(*)) AS avg_ppm
    |  FROM w),
    |tf AS (
    |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    |  FROM (SELECT doc_id, unnest(w) AS term FROM w)
    |  GROUP BY doc_id, term),
    |df AS (
    |  SELECT term, CAST(count(*) AS BIGINT) AS df
    |  FROM tf GROUP BY term),
    |qt AS (
    |  SELECT query_id, term FROM (
    |    SELECT t.doc_id AS query_id, t.term,
    |      row_number() OVER (PARTITION BY t.doc_id
    |                         ORDER BY d.df, t.term) AS trank
    |    FROM tf t JOIN df d ON d.term = t.term
    |    WHERE t.doc_id < $qMax)
    |  WHERE trank <= $nTerms),
    |dl AS (SELECT doc_id, len(w) AS doc_len FROM w),
    |scored AS (
    |  SELECT qt.query_id, tf.doc_id,
    |    CAST(sum(
    |      ((2*stats.n - 2*df.df + 1) * 1000 // (2*df.df + 1)) *
    |      ((11 * tf.tf * 1000000000000) //
    |       (5 * tf.tf * 1000000 +
    |        6 * (250000 + (750000 * dl.doc_len * 1000000)
    |             // stats.avg_ppm)))) AS BIGINT) AS score_fp
    |  FROM qt
    |  JOIN tf ON tf.term = qt.term
    |  JOIN df ON df.term = qt.term
    |  JOIN dl ON dl.doc_id = tf.doc_id
    |  CROSS JOIN stats
    |  GROUP BY qt.query_id, tf.doc_id),
    |cut AS (
    |  SELECT query_id, doc_id, score_fp FROM (
    |    SELECT query_id, doc_id, score_fp,
    |      row_number() OVER (PARTITION BY query_id
    |                         ORDER BY score_fp DESC, doc_id) AS rank
    |    FROM scored)
    |  WHERE rank <= $depth),
    |reranked AS (
    |  SELECT query_id, doc_id,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY score_fp DESC, doc_id) AS rank2
    |  FROM cut WHERE doc_id <> query_id)
    |SELECT r.query_id, wq.source,
    |  CAST(min(r.rank2) AS BIGINT) AS first_rel_rank,
    |  CAST(1000000 // min(r.rank2) AS BIGINT) AS rr_ppm
    |FROM reranked r
    |JOIN w wq ON wq.doc_id = r.query_id
    |JOIN w wc ON wc.doc_id = r.doc_id
    |WHERE wc.source = wq.source
    |GROUP BY r.query_id, wq.source
    |ORDER BY r.query_id
    |""".stripMargin.trim

  /** Shared scored-pair CTE: every (query, candidate) exact cosine
    * with both labels — [[Similarity.scoredPairs]]'s oracle image. */
  private def scoredCtes(dim: Int, qMax: Long): String =
    s"""q AS (
    |  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
    |  FROM embeddings WHERE vec_id < $qMax),
    |c AS (
    |  SELECT vec_id AS cand_id, label AS c_label, embedding AS c_emb
    |  FROM embeddings),
    |scored AS (
    |  SELECT query_id, q_label, cand_id, c_label,
    |    CAST(${Similarity.dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${Similarity.dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${Similarity.dotSql("c_emb", "c_emb", dim)} AS DOUBLE)))
    |      AS cos
    |  FROM c, q WHERE query_id <> cand_id)""".stripMargin
}
