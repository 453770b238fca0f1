package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.LongVecDot
import org.apache.spark.sql.types.DecimalType

/** Principal-component analysis over an embedding column, engine-exact.
  *
  * Why a pipeline needs it: embedding tables arrive with correlated,
  * unevenly-scaled dimensions (one dominant direction eats most of the
  * variance), and both LSH bucketing and product quantization degrade
  * on such inputs — random hyperplanes waste planes re-separating the
  * dominant axis, PQ subspaces inherit correlated residuals. The
  * standard pre-pass is: estimate the covariance, find the top
  * principal direction(s), check how concentrated the variance is,
  * and project/decorrelate before indexing. This module is that
  * pre-pass as four oracle-checked queries.
  *
  * Arithmetic discipline (the [[Dedup.pairPageRank]] pattern applied
  * to linear algebra): embeddings quantize once to 1e-6 fixed point
  * (`round(x·1e6)` — float→double exact, one IEEE multiply + round,
  * identical across engines), and EVERYTHING downstream is integer
  * arithmetic — decimal(38,0) accumulators where int64 could
  * overflow, truncating `DIV` (toward zero on BOTH engines — Spark's
  * IntegralDivide and DuckDB's `//` agree on negatives, measured) for
  * every rescale. No float sums, no convergence epsilon, a FIXED
  * iteration count: the result is bit-identical on any partitioning
  * and any engine.
  *
  * Scale shape, stage by stage:
  *  - covariance: the ONLY stage that touches all n rows. Each row
  *    expands map-locally (array expression, no join, no shuffle) to
  *    its d(d+1)/2 upper-triangle products, and the hash aggregate
  *    combines partials BEFORE the shuffle — the wire carries
  *    #partitions · d(d+1)/2 cells, never n of anything. At d=64
  *    that is 2,080 cells per partition regardless of n.
  *  - power iteration: the CODEBOOK discipline. The cell relation is
  *    bounded driver state by declared contract (d(d+1)/2 cells — the
  *    same class as a PQ codebook or a k-means centroid relation), so
  *    the iteration runs as exact BigInt driver math, bit-equal to
  *    the oracle's unrolled CTEs (BigInt division truncates toward
  *    zero like both engines' integer DIV). The first cut iterated
  *    distributed — 8 localCheckpoint rounds over a 64-row relation —
  *    and paid ~0.3 s of stage floor PER ROUND at any data size
  *    (SCALE.md §47): cluster scheduling is the wrong tool for a
  *    64×64 matvec.
  *  - projection: the eigenvector re-enters as a d-long ARRAY LITERAL
  *    (bounded by the same contract — the §41 plan-literal caveat
  *    applies only to relations that GROW with tuning dials; d is
  *    fixed by the table schema), the dot in whole-stage codegen via
  *    [[LongVecDot]] — a pure map, no join, no shuffle.
  */
object Pca {

  /** Embedding quantization scale: 1e-6 fixed point. */
  val QScale = 1000000L

  /** Power-iteration output scale: max-abs component = ±1e6. */
  val VScale = 1000000L

  /** Covariance cells are rescaled by 1e-3 for the iteration so the
    * matvec products stay far inside int64 (see scaladoc budget). */
  val CsDown = 1000L

  private def qv(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * QScale).cast("long"))

  /** The mergeable sufficient-statistics relation `(i, j, s, cnt)`:
    * `j = 0` rows carry first moments (Σ q_i, n), `j ≥ 1` rows carry
    * second moments (Σ q_i q_j). Moments are ADDITIVE — two slices'
    * moment tables merge by cell-wise sum into exactly the whole's
    * ([[mergeMoments]]), which is what makes covariance maintainable
    * incrementally (a batch appends without a corpus rescan,
    * [[covarianceIncremental]]).
    *
    * The expansion emits a FLAT array<long> in a fixed cell order
    * (for each i: the first moment q_i, then the tail products
    * q_i·q_j for j ≥ i) and posexplode's POSITION is the cell key —
    * a struct-per-cell formulation measured 2× slower at ×100
    * (GenericArrayData + struct allocation per cell dominates; the
    * flat form is one primitive array per row). The (pos → i, j)
    * decode is a d(d+3)/2-row driver map joined back broadcast
    * AFTER the aggregate, so it prices at cells, not rows. */
  def moments(emb: DataFrame, id: Column, vec: Column,
              dim: Int): DataFrame =
    momentsBy(emb, lit(0L), id, vec, dim).drop("grp")

  /** [[moments]] keyed by a group column — per-label / per-domain
    * sufficient statistics in the same single pass (the cell count
    * on the wire becomes |groups|·d(d+3)/2, still corpus-independent
    * for bounded group sets). */
  def momentsBy(emb: DataFrame, group: Column, id: Column, vec: Column,
                dim: Int): DataFrame = {
    val posMap = {
      val s = emb.sparkSession
      import s.implicits._
      val rows = Seq.newBuilder[(Int, Long, Long)]
      var pos = 0
      for (i0 <- 0 until dim) {
        rows += ((pos, (i0 + 1).toLong, 0L)); pos += 1
        for (j0 <- i0 until dim) {
          rows += ((pos, (i0 + 1).toLong, (j0 + 1).toLong)); pos += 1
        }
      }
      rows.result().toDF("pos", "i", "j")
    }
    // a small corpus file arrives as ONE scan partition and the
    // d(d+3)/2-per-row expansion would run in a single task — spread
    // first (the scoredPairs precedent); at real scale the scan has
    // many splits and the spread is one narrow-row shuffle
    Dedup.spread(emb.select(group.as("grp"), id.as("__sid"),
        qv(vec).as("qv")), col("__sid"))
      .select(col("grp"), posexplode(flatten(transform(col("qv"),
        (xi, i) => concat(array(xi),
          transform(slice(col("qv"), i + lit(1), lit(dim) - i),
            xj => xi * xj))))).as(Seq("pos", "p")))
      .groupBy("grp", "pos")
      .agg(sum(col("p").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("cnt"))
      .join(broadcast(posMap), Seq("pos"))
      .select(col("grp"), col("i"), col("j"), col("s"), col("cnt"))
  }

  /** Per-group covariance cells from a (checkpointed) grouped moment
    * relation: `(grp, i, j, cov_fp)` — the per-domain / per-label
    * spectral drift audit (a domain whose covariance moves is a
    * domain whose embedding distribution moved). */
  def covFromMomentsBy(moments: DataFrame): DataFrame = {
    val s1 = moments.filter(col("j") === 0)
    val n = s1.filter(col("i") === 1)
      .select(col("grp"), col("cnt").as("n"))
    moments.filter(col("j") >= 1)
      .join(broadcast(s1.select(col("grp"), col("i"),
        col("s").as("s1i"))), Seq("grp", "i"))
      .join(broadcast(s1.select(col("grp"), col("i").as("j"),
        col("s").as("s1j"))), Seq("grp", "j"))
      .join(broadcast(n), Seq("grp"))
      // divisor squared in decimal: a long n*n wraps past n ~ 3.03e9
      // rows (the 100 TB regime); the BigInt driver twin and the
      // HUGEINT oracle never wrap, so the distributed path must not
      .withColumn("cov_fp",
        expr("(n * s - s1i * s1j) DIV (CAST(n AS DECIMAL(38,0)) * n)"))
      .select(col("grp"), col("i"), col("j"), col("cov_fp"))
  }

  /** Mean / clamped-variance arrays from a COLLECTED moment relation
    * — the shared driver-side derivation behind [[outliers]] and
    * [[enrich]]: mean = s1 / n, var = ((n·s2 − s1²) / n²) / 1e6
    * clamped to ≥ 1, every division truncating toward zero (the
    * covFromMoments chain, BigInt so overflow is impossible). */
  private def meanVar(rows: Array[org.apache.spark.sql.Row], dim: Int,
                      n: Long): (Seq[Long], Seq[Long]) = {
    val s1 = rows.filter(_.getLong(1) == 0L)
      .map(r => r.getLong(0).toInt ->
        BigInt(r.getDecimal(2).toBigInteger)).toMap
    val s2d = rows.filter(r => r.getLong(1) == r.getLong(0))
      .map(r => r.getLong(0).toInt ->
        BigInt(r.getDecimal(2).toBigInteger)).toMap
    val mean = (1 to dim).map(i => (s1(i) / n).toLong)
    val varr = (1 to dim).map { i =>
      ((n * s2d(i) - s1(i) * s1(i)) / (BigInt(n) * n) / QScale)
        .max(1).toLong
    }
    (mean, varr)
  }

  /** The zip-fold diagonal-Mahalanobis score: per dimension
    * `(x_q − mean)² exactly divided by var` (remainder subtracted
    * first so the long/long `/` — a double op — divides exactly;
    * numerator ≤ ~3.6e13, far under 2^53: the qualityPpmFrom trick),
    * summed. Mean/variance arrive as COLUMNS so the same fold serves
    * the global form (array literals) and the per-label form (arrays
    * broadcast-joined per group). */
  private def mahaCols(qvc: Column, mean: Column, varc: Column): Column =
    aggregate(
      zip_with(zip_with(qvc, mean, (x, m) => (x - m) * (x - m)),
        varc, (d2, v) => ((d2 - d2 % v) / v).cast("long")),
      lit(0L), (acc, z) => acc + z)

  /** [[mahaCols]] with the global mean/variance as array literals. */
  private def mahaExpr(meanArr: Seq[Long], varArr: Seq[Long]): Column =
    mahaCols(col("qv"), typedLit(meanArr), typedLit(varArr))

  /** Diagonal-Mahalanobis outlier ranking: per vector, the sum over
    * dimensions of `z²·1e6 = (x_q − mean)² DIV max(var DIV 1e6, 1)`
    * — the data-cleaning scan that flags embeddings far from the
    * corpus distribution (dead encoders, corrupt rows, wrong-modality
    * leaks) without any pairwise work. The full Mahalanobis needs the
    * inverse covariance; the diagonal form is the standard cheap
    * screen and needs only the moment relation this module already
    * maintains.
    *
    * Mean and variance enter as d-long ARRAY LITERALS (codebook
    * class, from the checkpointed moments), the per-row score is one
    * zip-fold projection — no join, no shuffle; top-k leaves through
    * a bounded TakeOrdered. A zero-variance dimension clamps its
    * divisor to 1 (declared semantics: ANY deviation on a constant
    * dimension is maximally anomalous — that is the signal a dead
    * dimension coming alive should give). All integer: dev² ≤
    * ~3.6e13 at |x| ≤ 3, far inside int64. */
  def outliers(emb: DataFrame, id: Column, vec: Column, dim: Int,
               k: Int): DataFrame = {
    val mom = Pin.pin(moments(emb, id, vec, dim))
    val rows = mom.collect()
    val n = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 0L)
      .map(_.getLong(3)).getOrElse(0L)
    require(n > 0, "outliers: empty corpus")
    val (meanArr, varArr) = meanVar(rows, dim, n)
    val scored = emb.select(id.as("vec_id"), qv(vec).as("qv"))
      .withColumn("score_fp", mahaExpr(meanArr, varArr))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_fp").desc, col("vec_id").asc)
    scored.select(col("vec_id"), col("score_fp"))
      .orderBy(col("score_fp").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Per-label diagonal-Mahalanobis outliers: mean/variance from the
    * GROUPED moments ([[momentsBy]] — same one corpus pass), each row
    * scored against ITS label's distribution, top-k within label.
    *
    * Why the global form is not enough: on a mixture corpus (the
    * exact case [[projectHist]]'s bimodality audit detects) a global
    * mean sits between the modes and flags whole minority domains as
    * "outliers" — rows that are perfectly typical OF THEIR DOMAIN —
    * while a corrupt row inside the majority mode hides under the
    * inflated global variance. Scoring within label restores the
    * signal: anomalous means anomalous among its peers.
    *
    * Scale shape: the stats relation is |labels| rows of two d-long
    * arrays (codebook class — broadcast), the scoring pass is the
    * same join-free-after-broadcast zip-fold map, and top-k-per-label
    * is TWO-PHASE — a salted per-(label, salt) row_number prune to
    * ≤ 32·k rows per label first, then the exact per-label window
    * over that bounded relation. A single window partitioned by a
    * bounded label set would funnel every row of a label through one
    * task at 100 TB; the salted prune is exact for top-k (a label's
    * true top-k survives any per-salt top-k cut) and keeps the wide
    * shuffle k-bounded. Group key contract: integral labels (the
    * long-beats-string key discipline — dictionary-encode string
    * domains upstream), bounded cardinality per [[momentsBy]]. */
  def outliersByLabel(emb: DataFrame, group: Column, id: Column,
                      vec: Column, dim: Int, k: Int): DataFrame = {
    val sess = emb.sparkSession
    import sess.implicits._
    val mom = Pin.pin(momentsBy(emb, group.cast("long"), id, vec, dim))
    val rows = mom.select("i", "j", "s", "cnt", "grp").collect()
    require(rows.nonEmpty, "outliersByLabel: empty corpus")
    val stats = rows.groupBy(_.getLong(4)).toSeq.map { case (g, rs) =>
      val n = rs.find(r => r.getLong(0) == 1L && r.getLong(1) == 0L)
        .map(_.getLong(3)).getOrElse(0L)
      require(n > 0, s"outliersByLabel: empty group $g")
      val (meanArr, varArr) = meanVar(rs, dim, n)
      (g, meanArr, varArr)
    }
    val statsDf = stats.toDF("grp", "mean_q", "var_q")
    val scored = emb
      .select(group.cast("long").as("grp"), id.as("vec_id"),
        qv(vec).as("qv"))
      .join(broadcast(statsDf), Seq("grp"))
      .withColumn("score_fp",
        mahaCols(col("qv"), col("mean_q"), col("var_q")))
      .select(col("grp"), col("vec_id"), col("score_fp"))
    val byScore = Seq(col("score_fp").desc, col("vec_id").asc)
    val pruned = scored
      .withColumn("__salt", pmod(hash(col("vec_id")), lit(32)))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp"), col("__salt")).orderBy(byScore: _*)))
      .filter(col("__r") <= k).drop("__r", "__salt")
    pruned
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(byScore: _*)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp").as("label"), col("vec_id"), col("score_fp"),
        col("rank"))
  }

  /** DuckDB twin of [[outliersByLabel]] — the per-label mv CTE shape
    * of [[outliersOracleSql]]. */
  def outliersByLabelOracleSql(dim: Int, k: Int): String =
    s"""
    |WITH xq AS MATERIALIZED (
    |  SELECT CAST(label AS BIGINT) AS grp, vec_id, CAST(i AS BIGINT) AS i,
    |    CAST(round(CAST(embedding[i] AS DOUBLE) * $QScale) AS HUGEINT) AS q
    |  FROM embeddings, range(1, ${dim + 1}) t(i)),
    |nn AS (SELECT grp, CAST(count(DISTINCT vec_id) AS HUGEINT) AS n
    |       FROM xq GROUP BY grp),
    |sm AS (SELECT grp, i, sum(q) AS s1, sum(q * q) AS s2
    |       FROM xq GROUP BY grp, i),
    |mv AS MATERIALIZED (
    |  SELECT sm.grp, sm.i, sm.s1 // nn.n AS m,
    |    greatest(((nn.n * sm.s2 - sm.s1 * sm.s1) // (nn.n * nn.n))
    |      // $QScale, 1) AS v
    |  FROM sm JOIN nn ON nn.grp = sm.grp),
    |scored AS (
    |  SELECT x.grp, x.vec_id,
    |    sum(((x.q - mv.m) * (x.q - mv.m)) // mv.v) AS score_fp
    |  FROM xq x JOIN mv ON mv.grp = x.grp AND mv.i = x.i
    |  GROUP BY x.grp, x.vec_id),
    |ranked AS (
    |  SELECT grp AS label, vec_id, CAST(score_fp AS BIGINT) AS score_fp,
    |    row_number() OVER (PARTITION BY grp
    |      ORDER BY score_fp DESC, vec_id ASC) AS rank
    |  FROM scored)
    |SELECT label, vec_id, score_fp, CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY label, rank
    |""".stripMargin.trim

  /** The single-pass ENRICHED table — the deployment shape for "run
    * the spectral pre-pass and write the result back": per vector,
    * both PCA coordinates AND the diagonal-Mahalanobis score in ONE
    * projection over the corpus. Everything driver-side derives from
    * the one collected moment relation (cs matrix, eigenvectors,
    * mean/variance — zero extra cluster jobs beyond the moment pass
    * itself), and the corpus-side map carries two codegen dots plus
    * the zip-fold score. A downstream pipeline filters on `maha_fp`,
    * buckets on the coordinates, and never rescans raw embeddings. */
  def enrich(emb: DataFrame, id: Column, vec: Column, dim: Int,
             iters: Int): DataFrame = {
    val mom = Pin.pin(moments(emb, id, vec, dim))
    val rows = mom.collect()
    val n = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 0L)
      .map(_.getLong(3)).getOrElse(0L)
    require(n > 0, "enrich: empty corpus")
    val s1 = rows.filter(_.getLong(1) == 0L)
      .map(r => r.getLong(0).toInt -> BigInt(r.getDecimal(2)
        .toBigInteger)).toMap
    // cs matrix straight from the collected cells — identical
    // two-step truncation to covFromMoments ((n·s − s1i·s1j) / n²,
    // then / 1e3), no cluster job
    val m = Array.ofDim[Long](dim + 1, dim + 1)
    rows.filter(_.getLong(1) >= 1L).foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      val sij = BigInt(r.getDecimal(2).toBigInteger)
      val cs = ((n * sij - s1(i) * s1(j)) / (BigInt(n) * n) /
        CsDown).toLong
      m(i)(j) = cs
      m(j)(i) = cs
    }
    val v1 = iterate(m, dim, iters, None)
    val v2 = iterate(m, dim, iters, Some(v1))
    val (meanArr, varArr) = meanVar(rows, dim, n)
    emb.select(id.as("vec_id"), qv(vec).as("qv"))
      .withColumn("__d1",
        LongVecDot.dotColumn(col("qv"), typedLit(v1.toSeq)))
      .withColumn("__d2",
        LongVecDot.dotColumn(col("qv"), typedLit(v2.toSeq)))
      .withColumn("maha_fp", mahaExpr(meanArr, varArr))
      .select(col("vec_id"),
        expr(s"CAST(__d1 DIV $QScale AS BIGINT)").as("score1_fp"),
        expr(s"CAST(__d2 DIV $QScale AS BIGINT)").as("score2_fp"),
        col("maha_fp"))
  }

  /** Per-label single-pass enriched table — [[enrich]] scored within
    * each label's OWN distribution: per vector, the projections onto
    * ITS label's top-2 principal directions plus the diagonal
    * Mahalanobis against its label's mean/variance. The mixture-
    * corpus completion of [[outliersByLabel]]: where the global
    * enrich's coordinates answer "where does this row sit in the
    * corpus", the per-label form answers "where does it sit among
    * its peers" — the axes a domain-stratified curriculum or a
    * per-domain dedup pass actually buckets on (a minority domain's
    * internal structure is invisible in global coordinates when the
    * between-domain direction dominates).
    *
    * Derivation: grouped moments ([[momentsBy]] — still ONE corpus
    * pass), then per label the SAME driver math as the global form —
    * cs matrix, [[iterate]] ×2, [[meanVar]] — all BigInt-exact,
    * |labels|·d(d+3)/2 collected cells (codebook class by the
    * bounded-label contract). Per-label eigenvectors and mean/var
    * broadcast as |labels| rows of d-long arrays; the corpus map is
    * two [[LongVecDot]] column dots plus the [[mahaCols]] zip-fold
    * after one broadcast join — no shuffle, no second scan. */
  def enrichByLabel(emb: DataFrame, group: Column, id: Column,
                    vec: Column, dim: Int, iters: Int): DataFrame = {
    val sess = emb.sparkSession
    import sess.implicits._
    val mom = Pin.pin(momentsBy(emb, group.cast("long"), id, vec, dim))
    val rows = mom.select("i", "j", "s", "cnt", "grp").collect()
    require(rows.nonEmpty, "enrichByLabel: empty corpus")
    val stats = rows.groupBy(_.getLong(4)).toSeq.map { case (g, rs) =>
      val n = rs.find(r => r.getLong(0) == 1L && r.getLong(1) == 0L)
        .map(_.getLong(3)).getOrElse(0L)
      require(n > 0, s"enrichByLabel: empty group $g")
      val s1 = rs.filter(_.getLong(1) == 0L)
        .map(r => r.getLong(0).toInt ->
          BigInt(r.getDecimal(2).toBigInteger)).toMap
      val m = Array.ofDim[Long](dim + 1, dim + 1)
      rs.filter(_.getLong(1) >= 1L).foreach { r =>
        val i = r.getLong(0).toInt
        val j = r.getLong(1).toInt
        val sij = BigInt(r.getDecimal(2).toBigInteger)
        val cs = ((n * sij - s1(i) * s1(j)) / (BigInt(n) * n) /
          CsDown).toLong
        m(i)(j) = cs
        m(j)(i) = cs
      }
      val v1 = iterate(m, dim, iters, None)
      val v2 = iterate(m, dim, iters, Some(v1))
      val (meanArr, varArr) = meanVar(rs, dim, n)
      (g, v1.toSeq, v2.toSeq, meanArr, varArr)
    }
    val statsDf = stats.toDF("grp", "v1_q", "v2_q", "mean_q", "var_q")
    emb.select(group.cast("long").as("grp"), id.as("vec_id"),
        qv(vec).as("qv"))
      .join(broadcast(statsDf), Seq("grp"))
      .withColumn("__d1",
        LongVecDot.dotColumn(col("qv"), col("v1_q")))
      .withColumn("__d2",
        LongVecDot.dotColumn(col("qv"), col("v2_q")))
      .select(col("grp").as("label"), col("vec_id"),
        expr(s"CAST(__d1 DIV $QScale AS BIGINT)").as("score1_fp"),
        expr(s"CAST(__d2 DIV $QScale AS BIGINT)").as("score2_fp"),
        mahaCols(col("qv"), col("mean_q"), col("var_q")).as("maha_fp"))
  }

  /** DuckDB twin of [[enrichByLabel]]: the whole cov → power →
    * orthogonal-power → mean/var chain with `grp` threaded through
    * every CTE key (the grouped mirror of [[covCtes]] /
    * [[powerCtes]] / [[power2Ctes]], unrolled per round). */
  def enrichByLabelOracleSql(dim: Int, iters: Int): String = {
    val v1 = s"vg$iters"
    val powerRounds = (1 to iters).map { k =>
      val prev = if (k == 1) "vg0" else s"vg${k - 1}"
      s"""wg$k AS MATERIALIZED (
         |  SELECT m.grp, m.i, sum(m.cs * p.v) AS w
         |  FROM cmatg m JOIN $prev p ON p.grp = m.grp AND p.i = m.j
         |  GROUP BY m.grp, m.i),
         |mg$k AS MATERIALIZED (
         |  SELECT grp, max(abs(w)) AS mx FROM wg$k GROUP BY grp),
         |vg$k AS MATERIALIZED (
         |  SELECT w.grp, w.i,
         |    CASE WHEN m.mx = 0 THEN CAST($VScale AS HUGEINT)
         |         ELSE (w.w * $VScale) // m.mx END AS v
         |  FROM wg$k w JOIN mg$k m ON m.grp = w.grp)""".stripMargin
    }.mkString(",\n")
    val orthoRounds = (1 to iters).map { k =>
      val prev = if (k == 1) "vg0" else s"ug${k - 1}"
      s"""uwg$k AS MATERIALIZED (
         |  SELECT m.grp, m.i, sum(m.cs * p.v) AS w
         |  FROM cmatg m JOIN $prev p ON p.grp = m.grp AND p.i = m.j
         |  GROUP BY m.grp, m.i),
         |upg$k AS MATERIALIZED (
         |  SELECT w.grp, sum(w.w * a.v) AS pr
         |  FROM uwg$k w JOIN $v1 a ON a.grp = w.grp AND a.i = w.i
         |  GROUP BY w.grp),
         |uog$k AS MATERIALIZED (
         |  SELECT w.grp, w.i,
         |    w.w - (up.pr // vv.vv) * a.v AS w
         |  FROM uwg$k w
         |  JOIN $v1 a ON a.grp = w.grp AND a.i = w.i
         |  JOIN upg$k up ON up.grp = w.grp
         |  JOIN vvg vv ON vv.grp = w.grp),
         |umg$k AS MATERIALIZED (
         |  SELECT grp, max(abs(w)) AS mx FROM uog$k GROUP BY grp),
         |ug$k AS MATERIALIZED (
         |  SELECT w.grp, w.i,
         |    CASE WHEN m.mx = 0 THEN CAST($VScale AS HUGEINT)
         |         ELSE (w.w * $VScale) // m.mx END AS v
         |  FROM uog$k w JOIN umg$k m ON m.grp = w.grp)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH xq AS MATERIALIZED (
    |  SELECT CAST(label AS BIGINT) AS grp, vec_id, CAST(i AS BIGINT) AS i,
    |    CAST(round(CAST(embedding[i] AS DOUBLE) * $QScale) AS HUGEINT) AS q
    |  FROM embeddings, range(1, ${dim + 1}) t(i)),
    |nng AS (SELECT grp, CAST(count(DISTINCT vec_id) AS HUGEINT) AS n
    |        FROM xq GROUP BY grp),
    |s1g AS (SELECT grp, i, sum(q) AS s1 FROM xq GROUP BY grp, i),
    |s2g AS (SELECT a.grp, a.i AS i, b.i AS j, sum(a.q * b.q) AS s2
    |        FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND a.i <= b.i
    |        GROUP BY a.grp, a.i, b.i),
    |covg AS MATERIALIZED (
    |  SELECT s2g.grp, s2g.i, s2g.j,
    |    (nng.n * s2g.s2 - sa.s1 * sb.s1) // (nng.n * nng.n) AS cov_fp
    |  FROM s2g
    |  JOIN nng ON nng.grp = s2g.grp
    |  JOIN s1g sa ON sa.grp = s2g.grp AND sa.i = s2g.i
    |  JOIN s1g sb ON sb.grp = s2g.grp AND sb.i = s2g.j),
    |cmatg AS MATERIALIZED (
    |  SELECT grp, i, j, cov_fp // $CsDown AS cs FROM covg
    |  UNION ALL
    |  SELECT grp, j, i, cov_fp // $CsDown FROM covg WHERE i < j),
    |vg0 AS (
    |  SELECT g.grp, CAST(t.i AS BIGINT) AS i,
    |    CAST($VScale + t.i * 17 AS HUGEINT) AS v
    |  FROM (SELECT DISTINCT grp FROM xq) g, range(1, ${dim + 1}) t(i)),
    |$powerRounds,
    |vvg AS MATERIALIZED (
    |  SELECT grp, sum(v * v) AS vv FROM $v1 GROUP BY grp),
    |$orthoRounds,
    |mvg AS MATERIALIZED (
    |  SELECT sm.grp, sm.i, sm.s1 // nng.n AS m,
    |    greatest(((nng.n * sq.s2 - sm.s1 * sm.s1) // (nng.n * nng.n))
    |      // $QScale, 1) AS v
    |  FROM s1g sm
    |  JOIN (SELECT grp, i, sum(q * q) AS s2 FROM xq GROUP BY grp, i) sq
    |    ON sq.grp = sm.grp AND sq.i = sm.i
    |  JOIN nng ON nng.grp = sm.grp)
    |SELECT x.grp AS label, x.vec_id,
    |  CAST(sum(x.q * a.v) // $QScale AS BIGINT) AS score1_fp,
    |  CAST(sum(x.q * b.v) // $QScale AS BIGINT) AS score2_fp,
    |  CAST(sum(((x.q - mv.m) * (x.q - mv.m)) // mv.v) AS BIGINT)
    |    AS maha_fp
    |FROM xq x
    |JOIN vg$iters a ON a.grp = x.grp AND a.i = x.i
    |JOIN ug$iters b ON b.grp = x.grp AND b.i = x.i
    |JOIN mvg mv ON mv.grp = x.grp AND mv.i = x.i
    |GROUP BY x.grp, x.vec_id ORDER BY label, vec_id
    |""".stripMargin.trim
  }

  /** Histogram of the PC1 coordinates — the BIMODALITY audit: a
    * corpus that is secretly a mixture (two encoders, two domains,
    * a contaminated slice) shows two humps along its dominant
    * direction before any clustering is run. Buckets are FLOOR
    * division (score − pmod(score, w)) / w so negative coordinates
    * bucket consistently on both engines (plain truncating DIV would
    * fold (−w, w) into one double-width bucket around zero). One
    * keyed agg over the projection — same pure-map corpus shape. */
  def projectHist(emb: DataFrame, id: Column, vec: Column,
                  v: DataFrame, binWidthFp: Long): DataFrame =
    project(emb, id, vec, v)
      .select(expr(
        s"(score_fp - pmod(score_fp, ${binWidthFp}L)) DIV $binWidthFp")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))

  /** DuckDB twin of [[projectHist]]. */
  def projectHistOracleSql(dim: Int, iters: Int,
                           binWidthFp: Long): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |proj AS (
    |  SELECT x.vec_id,
    |    CAST(sum(x.q * p.v) // $QScale AS BIGINT) AS score_fp
    |  FROM xq x JOIN v$iters p ON p.i = x.i
    |  GROUP BY x.vec_id)
    |SELECT
    |  CAST((score_fp - ((score_fp % $binWidthFp + $binWidthFp)
    |    % $binWidthFp)) // $binWidthFp AS BIGINT) AS bucket,
    |  count(*) AS n_vectors
    |FROM proj GROUP BY 1 ORDER BY 1
    |""".stripMargin.trim

  /** DuckDB twin of [[enrich]]. */
  def enrichOracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |${power2Ctes(dim, iters)},
    |mv AS MATERIALIZED (
    |  SELECT i, sum(q) // (SELECT n FROM nn) AS m,
    |    greatest((((SELECT n FROM nn) * sum(q * q) - sum(q) * sum(q))
    |      // ((SELECT n FROM nn) * (SELECT n FROM nn))) // $QScale,
    |      1) AS v
    |  FROM xq GROUP BY i)
    |SELECT x.vec_id,
    |  CAST(sum(x.q * a.v) // $QScale AS BIGINT) AS score1_fp,
    |  CAST(sum(x.q * b.v) // $QScale AS BIGINT) AS score2_fp,
    |  CAST(sum(((x.q - mv.m) * (x.q - mv.m)) // mv.v) AS BIGINT)
    |    AS maha_fp
    |FROM xq x
    |JOIN v$iters a ON a.i = x.i
    |JOIN u$iters b ON b.i = x.i
    |JOIN mv ON mv.i = x.i
    |GROUP BY x.vec_id ORDER BY x.vec_id
    |""".stripMargin.trim

  /** DuckDB twin of [[outliers]]. */
  def outliersOracleSql(dim: Int, k: Int): String =
    s"""
    |WITH xq AS MATERIALIZED (
    |  SELECT vec_id, CAST(i AS BIGINT) AS i,
    |    CAST(round(CAST(embedding[i] AS DOUBLE) * $QScale) AS HUGEINT) AS q
    |  FROM embeddings, range(1, ${dim + 1}) t(i)),
    |nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM xq),
    |mv AS MATERIALIZED (
    |  SELECT i, sum(q) // (SELECT n FROM nn) AS m,
    |    greatest((((SELECT n FROM nn) * sum(q * q) - sum(q) * sum(q))
    |      // ((SELECT n FROM nn) * (SELECT n FROM nn))) // $QScale,
    |      1) AS v
    |  FROM xq GROUP BY i),
    |scored AS (
    |  SELECT x.vec_id,
    |    sum(((x.q - mv.m) * (x.q - mv.m)) // mv.v) AS score_fp
    |  FROM xq x JOIN mv ON mv.i = x.i
    |  GROUP BY x.vec_id),
    |ranked AS (
    |  SELECT vec_id, CAST(score_fp AS BIGINT) AS score_fp,
    |    row_number() OVER (ORDER BY score_fp DESC, vec_id ASC) AS rank
    |  FROM scored)
    |SELECT vec_id, score_fp, CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY rank
    |""".stripMargin.trim

  /** Per-label covariance over `embeddings` in ONE corpus pass. */
  def covarianceByLabel(emb: DataFrame, dim: Int): DataFrame =
    covFromMomentsBy(Pin.pin(momentsBy(emb, col("label"), col("vec_id"),
      col("embedding"), dim)))
      .withColumnRenamed("grp", "label")

  /** Cell-wise sum of moment tables — exact (integer sums), so
    * merge-then-derive equals derive-over-the-union row for row. */
  def mergeMoments(tables: Seq[DataFrame]): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy("i", "j")
      .agg(sum(col("s")).cast(DecimalType(38, 0)).as("s"),
        sum(col("cnt")).as("cnt"))

  /** Covariance cells from a (checkpointed) moment relation — the
    * grouped derivation with a constant group (ONE definition of the
    * covariance formula, like [[moments]]/[[momentsBy]]). */
  def covFromMoments(moments: DataFrame): DataFrame =
    covFromMomentsBy(moments.withColumn("grp", lit(0L))).drop("grp")

  /** Upper-triangle covariance cells `(i, j, cov_fp)`, 1-based
    * `i <= j`, `cov_fp = (n·Σ x_i x_j − Σx_i · Σx_j) DIV n²` over the
    * 1e6-quantized components — i.e. covariance·1e12 truncated,
    * exact. ONE corpus pass: second moments, first moments, and the
    * row count all fall out of the single [[moments]] scan, the
    * d(d+3)/2-row relation is localCheckpoint'd (2,144 rows at d=64
    * at ANY corpus size), and the d-row moment slices come back
    * broadcast — a second corpus scan is exactly what this shape
    * exists to avoid at 100 TB. */
  def covariance(emb: DataFrame, id: Column, vec: Column,
                 dim: Int): DataFrame =
    covFromMoments(Pin.pin(moments(emb, id, vec, dim)))

  /** Incremental covariance: a settled base moment table (persisted
    * state or a prior slice's [[moments]]) absorbs an arriving batch
    * WITHOUT rescanning the base corpus — the batch's moments merge
    * cell-wise and the covariance derives from the sum. Exactly
    * equal to [[covariance]] over base ∪ batch (integer additivity;
    * the declared query's oracle IS the whole-corpus covariance). */
  def covarianceIncremental(baseMoments: DataFrame, batch: DataFrame,
                            id: Column, vec: Column,
                            dim: Int): DataFrame =
    covFromMoments(Pin.pin(mergeMoments(Seq(baseMoments,
      moments(batch, id, vec, dim)))))

  /** Collected mirrored matrix at matvec scale `cs = cov_fp DIV 1e3`
    * — the bounded-driver-state hop (d(d+1)/2 cells, codebook-class).
    * 1-based indexing to match the relation. */
  private def csMatrix(cov: DataFrame, dim: Int): Array[Array[Long]] = {
    val m = Array.ofDim[Long](dim + 1, dim + 1)
    cov.select(col("i"), col("j"), col("cov_fp")).collect().foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      val cs = r.getLong(2) / CsDown // toward zero, = DIV / `//`
      m(i)(j) = cs
      m(j)(i) = cs
    }
    m
  }

  /** Shared fixed-point iteration kernel, driver-side: per round
    * `w = C·v` in BigInt, optionally one exact Gram-Schmidt step
    * against `ortho` (see [[powerIteration2]]), then renormalize to
    * max-abs = 1e6 by truncating division (BigInt `/` truncates
    * toward zero — same as Spark DIV and DuckDB `//`, so this is
    * bit-equal to the oracle's unrolled CTE rounds). A zero iterate
    * (constant embeddings, or a rank-1 corpus after
    * orthogonalization) renormalizes to the uniform vector rather
    * than dividing by zero — the guard both engines share (the
    * pq_drift_audit lesson). Start vector: near-uniform positive
    * with a small index-linear perturbation (symmetry breaker; a
    * start orthogonal to the dominant eigenvector cannot survive
    * the perturbation). */
  private def iterate(m: Array[Array[Long]], dim: Int, iters: Int,
                      ortho: Option[Array[Long]]): Array[Long] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val orthoVv = ortho.map(u => u.map(x => BigInt(x) * x).sum)
    var v: Array[BigInt] =
      (1 to dim).map(i => BigInt(VScale + i * 17L)).toArray
    for (_ <- 1 to iters) {
      var w: Array[BigInt] = Array.tabulate(dim)(i0 =>
        (0 until dim).map(j0 => BigInt(m(i0 + 1)(j0 + 1)) * v(j0)).sum)
      ortho.foreach { u =>
        // one Gram-Schmidt step per round: w ← w − (w·u / u·u)·u.
        // Re-orthogonalizing INSIDE the loop (orthogonal iteration)
        // rather than deflating the matrix once keeps the top
        // component from regrowing out of truncation residue when
        // λ1 ≫ λ2 — each round caps the contamination at one
        // truncation, which the next round removes again.
        val pr = (0 until dim).map(k => w(k) * u(k)).sum
        val coef = pr / orthoVv.get
        w = Array.tabulate(dim)(k => w(k) - coef * u(k))
      }
      val mx = w.map(_.abs).max
      v = if (mx == 0) Array.fill(dim)(BigInt(VScale))
          else w.map(x => x * VScale / mx)
    }
    v.map(_.toLong)
  }

  private def toVecDf(cov: DataFrame, v: Array[Long]): DataFrame = {
    val s = cov.sparkSession
    import s.implicits._
    v.zipWithIndex.map { case (x, i0) => ((i0 + 1).toLong, x) }
      .toSeq.toDF("i", "v_fp")
  }

  /** Top principal direction by `iters` fixed-point power iterations
    * — exact-integer deterministic, fixed iteration count in place
    * of any float convergence test. */
  def powerIteration(cov: DataFrame, dim: Int, iters: Int): DataFrame =
    toVecDf(cov, iterate(csMatrix(cov, dim), dim, iters, None))

  /** SECOND principal direction: orthogonal iteration against the
    * first — same kernel, same matrix, one exact Gram-Schmidt step
    * per round. On a rank-1 corpus the orthogonalized iterate is
    * truncation noise and `explained2`'s λ2 reads ≈0 — the audit
    * catches it; the direction itself is then meaningless by
    * declared semantics. */
  def powerIteration2(cov: DataFrame, dim: Int, iters: Int): DataFrame = {
    val m = csMatrix(cov, dim)
    toVecDf(cov, iterate(m, dim, iters,
      Some(iterate(m, dim, iters, None))))
  }

  /** v as a 1-based-ordered driver array. */
  private[graft] def collectVec(v: DataFrame): Array[Long] =
    v.orderBy("i").select("v_fp").collect().map(_.getLong(0))

  /** Exact fixed-point RESIDUALIZATION — the step that makes the
    * spectral pre-pass feed the indexes it exists for: subtract the
    * projections onto the two supplied (fixed-point, max-abs-1e6)
    * directions from every embedding and return the same
    * `(vec_id, embedding: array<float>)` shape the ANN/PQ chain
    * consumes, so a decorrelated index is a drop-in swap of its
    * input frame.
    *
    * Arithmetic, all integer until the final exact float emit: per
    * row the projection coefficient `c = (x_q·v)·1e6 DIV (v·v)`
    * (one decimal op per row — x_q·v can reach ~2e14 and ·1e6
    * overflows int64), then per element
    * `r_i = x_q_i − (c1·v1_i) DIV 1e6 − (c2·v2_i) DIV 1e6`
    * (products ≤ ~2e14 — plain long), then
    * `float(double(r_i) / 1e6)` — a correctly-rounded double divide
    * and float32 round on BOTH engines, so the residual floats are
    * bit-identical to the oracle's. Both projections subtract from
    * the ORIGINAL vector (parallel, not sequential deflation): with
    * near-orthogonal v1 ⊥ v2 the difference is one truncation ULP,
    * and the parallel form is the one the oracle CTE mirrors
    * tractably. Scale shape: a pure map over the corpus — two
    * codegen dots + one zip per row, no join, no shuffle; the
    * directions ride as d-long array literals (codebook class). */
  def residualize(emb: DataFrame, id: Column, vec: Column,
                  v1: Array[Long], v2: Array[Long]): DataFrame = {
    val vv1 = v1.map(x => BigInt(x) * x).sum
    val vv2 = v2.map(x => BigInt(x) * x).sum
    require(vv1 > 0 && vv2 > 0, "residualize: zero direction")
    def comp(c: Column, vlit: Column): Column = {
      // (c·v_i) DIV 1e6 without `div`: subtract the remainder first
      // so the long/long `/` (a double op) divides exactly —
      // |c·v_i| ≤ ~2e14, far under 2^53
      val p = c * vlit
      ((p - p % QScale) / QScale).cast("long")
    }
    emb.select(id.as("vec_id"), qv(vec).as("qv"))
      .withColumn("__d1",
        LongVecDot.dotColumn(col("qv"), typedLit(v1.toSeq)))
      .withColumn("__d2",
        LongVecDot.dotColumn(col("qv"), typedLit(v2.toSeq)))
      .withColumn("__c1", expr(s"CAST((CAST(__d1 AS DECIMAL(38,0)) * " +
        s"$QScale) DIV ${vv1.toLong}L AS BIGINT)"))
      .withColumn("__c2", expr(s"CAST((CAST(__d2 AS DECIMAL(38,0)) * " +
        s"$QScale) DIV ${vv2.toLong}L AS BIGINT)"))
      .select(col("vec_id"),
        transform(
          zip_with(
            zip_with(col("qv"), typedLit(v1.toSeq),
              (x, a) => x - comp(col("__c1"), a)),
            typedLit(v2.toSeq),
            (x, b) => x - comp(col("__c2"), b)),
          x => (x.cast("double") / lit(QScale.toDouble)).cast("float"))
          .as("embedding"))
  }

  /** λ = (vᵀCv) / (vᵀv) and the trace, BigInt driver math over the
    * collected cell matrix. */
  private def rayleigh(m: Array[Array[Long]], dim: Int,
                       v: Array[Long]): (Long, Long) = {
    val rq = (for (i <- 0 until dim; j <- 0 until dim)
      yield BigInt(m(i + 1)(j + 1)) * v(i) * v(j)).sum
    val vv = v.map(x => BigInt(x) * x).sum
    val tr = (1 to dim).map(i => BigInt(m(i)(i))).sum
    ((rq / vv).toLong, tr.toLong)
  }

  /** One-row variance-concentration audit: the Rayleigh quotient
    * `lambda_fp = (vᵀCv) / (vᵀv)` at matvec scale (covariance·1e9),
    * the trace at the same scale, and `explained_ppm` — the fraction
    * of total variance the top component carries, the number that
    * decides whether decorrelation is worth a rewrite pass before
    * indexing. NULL sentinel when the trace is zero (constant
    * corpus), identically on both engines. */
  def explained(cov: DataFrame, v: DataFrame): DataFrame = {
    val s = cov.sparkSession
    import s.implicits._
    val vec = collectVec(v)
    val (lambda, tr) = rayleigh(csMatrix(cov, vec.length),
      vec.length, vec)
    val ppm = if (tr == 0L) None
      else Some((BigInt(lambda) * 1000000 / tr).toLong)
    Seq((lambda, tr, ppm))
      .toDF("lambda_fp", "trace_fp", "explained_ppm")
  }

  /** Two-component variance audit: both Rayleigh quotients against
    * the trace, plus the cumulative top-2 explained fraction — the
    * "is the table effectively low-rank" number. NULL sentinel on
    * zero trace, identically on both engines. */
  def explainedTop2(cov: DataFrame, v1: DataFrame,
                    v2: DataFrame): DataFrame = {
    val s = cov.sparkSession
    import s.implicits._
    val a1 = collectVec(v1)
    val a2 = collectVec(v2)
    val m = csMatrix(cov, a1.length)
    val (l1, tr) = rayleigh(m, a1.length, a1)
    val (l2, _) = rayleigh(m, a2.length, a2)
    val ppm = if (tr == 0L) None
      else Some(((BigInt(l1) + l2) * 1000000 / tr).toLong)
    Seq((l1, l2, tr, ppm))
      .toDF("lambda1_fp", "lambda2_fp", "trace_fp", "explained2_ppm")
  }

  /** Per-vector projection onto the (max-abs-normalized) top
    * component: `score_fp = (x_q · v) DIV 1e6` — the 1e-6 fixed-point
    * coordinate along the dominant direction. The eigenvector rides
    * as ONE d-long array literal (bounded by the schema, never by a
    * dial); the corpus side is a streamed map with the dot inside
    * whole-stage codegen ([[LongVecDot]]) — no shuffle, no join, the
    * same shape at any n. */
  def project(emb: DataFrame, id: Column, vec: Column,
              v: DataFrame): DataFrame =
    emb.select(id.as("vec_id"), qv(vec).as("qv"))
      .withColumn("__dot",
        LongVecDot.dotColumn(col("qv"), typedLit(collectVec(v).toSeq)))
      .select(col("vec_id"),
        expr(s"CAST(__dot DIV $QScale AS BIGINT)").as("score_fp"))

  /** Two-dimensional PCA coordinates — the scatter a profiling
    * pipeline plots / buckets on: both components as array literals,
    * two codegen dots, still a pure map over the corpus. */
  def project2(emb: DataFrame, id: Column, vec: Column,
               v1: DataFrame, v2: DataFrame): DataFrame =
    emb.select(id.as("vec_id"), qv(vec).as("qv"))
      .withColumn("__d1",
        LongVecDot.dotColumn(col("qv"), typedLit(collectVec(v1).toSeq)))
      .withColumn("__d2",
        LongVecDot.dotColumn(col("qv"), typedLit(collectVec(v2).toSeq)))
      .select(col("vec_id"),
        expr(s"CAST(__d1 DIV $QScale AS BIGINT)").as("score1_fp"),
        expr(s"CAST(__d2 DIV $QScale AS BIGINT)").as("score2_fp"))

  // --------------------------------------------------------------
  // DuckDB twins. Shared CTE text so the four oracles stay one
  // definition of the arithmetic.
  // --------------------------------------------------------------

  /** Quantize + moments + covariance CTEs (HUGEINT throughout — the
    * oracle's stand-in for the decimal(38,0) accumulators). */
  private[ext] def covCtes(dim: Int): String =
    s"""xq AS MATERIALIZED (
       |  SELECT vec_id, CAST(i AS BIGINT) AS i,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * $QScale) AS HUGEINT) AS q
       |  FROM embeddings, range(1, ${dim + 1}) t(i)),
       |s1 AS (SELECT i, sum(q) AS s1 FROM xq GROUP BY i),
       |nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM xq),
       |s2 AS (SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS s2
       |       FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND a.i <= b.i
       |       GROUP BY a.i, b.i),
       |cov AS MATERIALIZED (
       |  SELECT s2.i, s2.j,
       |    ((SELECT n FROM nn) * s2.s2 - sa.s1 * sb.s1)
       |      // ((SELECT n FROM nn) * (SELECT n FROM nn)) AS cov_fp
       |  FROM s2
       |  JOIN s1 sa ON sa.i = s2.i
       |  JOIN s1 sb ON sb.i = s2.j)""".stripMargin

  /** Mirrored matrix + unrolled power-iteration CTEs ending at
    * `v$iters(i, v)`. */
  private[ext] def powerCtes(dim: Int, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT m.i, sum(m.cs * p.v) AS w
         |  FROM cmat m JOIN $prev p ON p.i = m.j GROUP BY m.i),
         |m$k AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w$k),
         |v$k AS MATERIALIZED (SELECT i,
         |  CASE WHEN (SELECT mx FROM m$k) = 0 THEN CAST($VScale AS HUGEINT)
         |       ELSE (w * $VScale) // (SELECT mx FROM m$k) END AS v
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""cmat AS MATERIALIZED (
       |  SELECT i, j, cov_fp // $CsDown AS cs FROM cov
       |  UNION ALL
       |  SELECT j, i, cov_fp // $CsDown FROM cov WHERE i < j),
       |v0 AS (SELECT CAST(i AS BIGINT) AS i,
       |         CAST($VScale + i * 17 AS HUGEINT) AS v
       |       FROM range(1, ${dim + 1}) t(i)),
       |$rounds""".stripMargin
  }

  /** Orthogonal-iteration CTEs for the SECOND component, appended
    * after [[powerCtes]]' `v$iters` chain: `vv1` (v1·v1), then per
    * round matvec → Gram-Schmidt against v1 → renormalize, ending at
    * `u$iters(i, v)`. */
  private[ext] def power2Ctes(dim: Int, iters: Int): String = {
    val v1 = s"v$iters"
    val rounds = (1 to iters).map { k =>
      val prev = if (k == 1) "v0" else s"u${k - 1}"
      s"""uw$k AS MATERIALIZED (
         |  SELECT m.i, sum(m.cs * p.v) AS w
         |  FROM cmat m JOIN $prev p ON p.i = m.j GROUP BY m.i),
         |up$k AS MATERIALIZED (
         |  SELECT sum(w.w * a.v) AS pr
         |  FROM uw$k w JOIN $v1 a ON a.i = w.i),
         |uo$k AS MATERIALIZED (
         |  SELECT w.i,
         |    w.w - ((SELECT pr FROM up$k) // (SELECT vv FROM vv1)) * a.v
         |      AS w
         |  FROM uw$k w JOIN $v1 a ON a.i = w.i),
         |um$k AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM uo$k),
         |u$k AS MATERIALIZED (SELECT i,
         |  CASE WHEN (SELECT mx FROM um$k) = 0 THEN CAST($VScale AS HUGEINT)
         |       ELSE (w * $VScale) // (SELECT mx FROM um$k) END AS v
         |  FROM uo$k)""".stripMargin
    }.mkString(",\n")
    s"""vv1 AS MATERIALIZED (SELECT sum(v * v) AS vv FROM $v1),
       |$rounds""".stripMargin
  }

  /** Residualization CTEs — the oracle twin of [[residualize]],
    * appended after [[covCtes]] + [[powerCtes]] + [[power2Ctes]]:
    * per-vector projection coefficients against `v$iters`/`u$iters`
    * (HUGEINT, truncating `//`, the exact mirror of the decimal DIV
    * chain), then `resid(vec_id, embedding)` with the identical
    * double-divide float32 emit. */
  private[ext] def residCtes(dim: Int, iters: Int): String =
    s"""vvu AS MATERIALIZED (SELECT sum(v * v) AS vv FROM u$iters),
       |coef AS MATERIALIZED (
       |  SELECT x.vec_id,
       |    (sum(x.q * a.v) * $QScale) // (SELECT vv FROM vv1) AS c1,
       |    (sum(x.q * b.v) * $QScale) // (SELECT vv FROM vvu) AS c2
       |  FROM xq x JOIN v$iters a ON a.i = x.i
       |    JOIN u$iters b ON b.i = x.i
       |  GROUP BY x.vec_id),
       |resid AS MATERIALIZED (
       |  SELECT x.vec_id,
       |    list(CAST(CAST(x.q - (cf.c1 * a.v) // $QScale
       |        - (cf.c2 * b.v) // $QScale AS DOUBLE) / $QScale AS FLOAT)
       |      ORDER BY x.i) AS embedding
       |  FROM xq x JOIN coef cf ON cf.vec_id = x.vec_id
       |    JOIN v$iters a ON a.i = x.i JOIN u$iters b ON b.i = x.i
       |  GROUP BY x.vec_id)""".stripMargin

  /** The full quantize→covariance→top-2-eigen→residualize CTE chain
    * (everything a decorrelated-index oracle needs in front of its
    * search CTEs), ending at `resid(vec_id, embedding)`. */
  private[ext] def decorrCtes(dim: Int, iters: Int): String =
    s"""${covCtes(dim)},
       |${powerCtes(dim, iters)},
       |${power2Ctes(dim, iters)},
       |${residCtes(dim, iters)}""".stripMargin

  def covarianceOracleSql(dim: Int): String =
    s"""
    |WITH ${covCtes(dim)}
    |SELECT i, j, CAST(cov_fp AS BIGINT) AS cov_fp
    |FROM cov ORDER BY i, j
    |""".stripMargin.trim

  /** DuckDB twin of [[covarianceByLabel]]. */
  def covarianceByLabelOracleSql(dim: Int): String =
    s"""
    |WITH xq AS MATERIALIZED (
    |  SELECT label AS grp, vec_id, CAST(i AS BIGINT) AS i,
    |    CAST(round(CAST(embedding[i] AS DOUBLE) * $QScale) AS HUGEINT) AS q
    |  FROM embeddings, range(1, ${dim + 1}) t(i)),
    |s1 AS (SELECT grp, i, sum(q) AS s1 FROM xq GROUP BY grp, i),
    |nn AS (SELECT grp, CAST(count(DISTINCT vec_id) AS HUGEINT) AS n
    |       FROM xq GROUP BY grp),
    |s2 AS (SELECT a.grp, a.i AS i, b.i AS j, sum(a.q * b.q) AS s2
    |       FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND a.i <= b.i
    |       GROUP BY a.grp, a.i, b.i)
    |SELECT s2.grp AS label, s2.i AS i, s2.j AS j,
    |  CAST((nn.n * s2.s2 - sa.s1 * sb.s1) // (nn.n * nn.n) AS BIGINT)
    |    AS cov_fp
    |FROM s2
    |JOIN s1 sa ON sa.grp = s2.grp AND sa.i = s2.i
    |JOIN s1 sb ON sb.grp = s2.grp AND sb.i = s2.j
    |JOIN nn ON nn.grp = s2.grp
    |ORDER BY label, i, j
    |""".stripMargin.trim

  def powerOracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)}
    |SELECT i, CAST(v AS BIGINT) AS v_fp
    |FROM v$iters ORDER BY i
    |""".stripMargin.trim

  def explainedOracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |rq AS (SELECT sum(m.cs * a.v * b.v) AS rq
    |       FROM cmat m JOIN v$iters a ON a.i = m.i
    |       JOIN v$iters b ON b.i = m.j),
    |vvx AS (SELECT sum(v * v) AS vv FROM v$iters),
    |tr AS (SELECT sum(cov_fp // $CsDown) AS trace_fp FROM cov WHERE i = j)
    |SELECT
    |  CAST(rq // vv AS BIGINT) AS lambda_fp,
    |  CAST(trace_fp AS BIGINT) AS trace_fp,
    |  CASE WHEN trace_fp = 0 THEN CAST(NULL AS BIGINT)
    |       ELSE CAST(((rq // vv) * 1000000) // trace_fp AS BIGINT)
    |  END AS explained_ppm
    |FROM rq, vvx, tr
    |""".stripMargin.trim

  def projectOracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)}
    |SELECT x.vec_id,
    |  CAST(sum(x.q * p.v) // $QScale AS BIGINT) AS score_fp
    |FROM xq x JOIN v$iters p ON p.i = x.i
    |GROUP BY x.vec_id ORDER BY x.vec_id
    |""".stripMargin.trim

  def power2OracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |${power2Ctes(dim, iters)}
    |SELECT i, CAST(v AS BIGINT) AS v_fp
    |FROM u$iters ORDER BY i
    |""".stripMargin.trim

  def explained2OracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |${power2Ctes(dim, iters)},
    |rq1 AS (SELECT sum(m.cs * a.v * b.v) AS rq
    |        FROM cmat m JOIN v$iters a ON a.i = m.i
    |        JOIN v$iters b ON b.i = m.j),
    |rq2 AS (SELECT sum(m.cs * a.v * b.v) AS rq
    |        FROM cmat m JOIN u$iters a ON a.i = m.i
    |        JOIN u$iters b ON b.i = m.j),
    |vv2x AS (SELECT sum(v * v) AS vv FROM u$iters),
    |tr AS (SELECT sum(cov_fp // $CsDown) AS trace_fp FROM cov WHERE i = j)
    |SELECT
    |  CAST(rq1.rq // vv1.vv AS BIGINT) AS lambda1_fp,
    |  CAST(rq2.rq // vv2x.vv AS BIGINT) AS lambda2_fp,
    |  CAST(trace_fp AS BIGINT) AS trace_fp,
    |  CASE WHEN trace_fp = 0 THEN CAST(NULL AS BIGINT)
    |       ELSE CAST(((rq1.rq // vv1.vv + rq2.rq // vv2x.vv) * 1000000)
    |                 // trace_fp AS BIGINT)
    |  END AS explained2_ppm
    |FROM rq1, rq2, vv1, vv2x, tr
    |""".stripMargin.trim

  def project2OracleSql(dim: Int, iters: Int): String =
    s"""
    |WITH ${covCtes(dim)},
    |${powerCtes(dim, iters)},
    |${power2Ctes(dim, iters)}
    |SELECT x.vec_id,
    |  CAST(sum(x.q * a.v) // $QScale AS BIGINT) AS score1_fp,
    |  CAST(sum(x.q * b.v) // $QScale AS BIGINT) AS score2_fp
    |FROM xq x JOIN v$iters a ON a.i = x.i
    |JOIN u$iters b ON b.i = x.i
    |GROUP BY x.vec_id ORDER BY x.vec_id
    |""".stripMargin.trim
}
