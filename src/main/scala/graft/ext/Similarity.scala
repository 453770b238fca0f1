package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.schema.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — extension surface, SURVEY §7.6.
  *
  * Numeric determinism: dot products and norms are accumulated as
  * DECIMAL(38,12) (each double product cast before summing), because
  * decimal addition is exact and order-independent — a float sum would
  * hash-differ between Spark's fold order and the oracle's. The final
  * cosine is then a fixed sequence of IEEE double ops on identical
  * inputs, hence bit-identical across engines.
  */
object Similarity {

  // DECIMAL(25,12): far below Spark's precision cap of 38, so the
  // fold's `(acc + v).cast(Acc)` is width-narrowing only (the scale
  // never changes -> no rounding, exact and order-independent).
  private val Acc = DecimalType(25, 12)

  /** Exact decimal dot product of two float-array columns — the
    * codegen'd [[org.apache.spark.sql.graftext.DecimalVecDot]] kernel
    * (one compiled loop per row). Bit-identical to [[dotHof]], the
    * Column-level fold it replaced (higher-order lambdas evaluate
    * interpreted per element — ~10× slower); SimilaritySpec pins the
    * two together. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.DecimalVecBridge.dotColumn(a, b)

  /** Reference formulation of [[dot]] as built-in higher-order
    * functions; kept as the executable spec of the kernel's exact
    * decimal semantics. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Acc)),
      lit(0L).cast(Acc), (acc, v) => (acc + v).cast(Acc))

  /** DuckDB twin of [[dot]] for `dim`-length vectors. */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DECIMAL(25,12)), " +
      s"list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(25,12)))), " +
      s"(acc, v) -> CAST(acc + v AS DECIMAL(25,12)))"

  /** cosine(a,b) as a double from decimal dot/norms. */
  def cosine(dotAb: Column, norm2A: Column, norm2B: Column): Column =
    dotAb.cast("double") /
      (sqrt(norm2A.cast("double")) * sqrt(norm2B.cast("double")))

  /** (query_id, cand_id, cos) exact-scored pairs — the shared front
    * of the brute-force scan family (broadcast bounded query side,
    * spread streamed corpus, per-vector norms computed once).
    * `qCarry`/`cCarry` project extra columns through as `q_<name>` /
    * `c_<name>` — so derived evals (e.g. [[RetrievalEval.labelMrr]])
    * reuse THIS scan shape instead of re-implementing it. */
  private[ext] def scoredPairs(corpus: DataFrame, queries: DataFrame,
                               qCarry: Seq[String] = Nil,
                               cCarry: Seq[String] = Nil): DataFrame = {
    // norms are per-vector, not per-pair: compute once before the join
    val q = queries.select(col("vec_id").as("query_id") +:
        col("embedding").as("q_emb") +:
        qCarry.map(n => col(n).as(s"q_$n")): _*)
      .withColumn("q_n2", dot(col("q_emb"), col("q_emb")))
    // a small corpus file arrives as ONE scan partition and the
    // broadcast join inherits it — every query×candidate score would
    // run in a single task; spread the streamed side first
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id") +:
        col("embedding").as("c_emb") +:
        cCarry.map(n => col(n).as(s"c_$n")): _*), col("cand_id"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
  }

  /** Brute-force cosine top-k: every query vector against the full
    * corpus. The baseline ANN path — O(|Q|·|C|) but embarrassingly
    * parallel: queries broadcast (bounded query set), corpus streams,
    * top-k via window over (query, cosine desc). At 100 TB use
    * [[lshCosineTopK]] to bound the candidate set instead. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scoredPairs(corpus, queries)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // cos reported at 6 decimals on both engines: ranking uses full
      // precision, but decimal→double conversion can differ by ~1 ulp
      // across engines at large magnitudes (see nearDupPairs)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Hard-negative mining — the retrieval-training counterpart of
    * top-k: for each query, the k MOST similar candidates strictly
    * BELOW the duplicate threshold. Contrastive training wants
    * exactly these (near-but-not-duplicate = informative negatives;
    * random negatives are trivially separable, above-threshold ones
    * are false negatives). Same scan as [[cosineTopK]] with the
    * threshold cut BEFORE the per-query window, so the rank frame
    * only sorts survivors. The cos double is bit-identical across
    * engines (exact decimal dot, correctly-rounded sqrt/divide), so
    * the threshold compare cannot flip a boundary candidate. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    threshold: Double): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scoredPairs(corpus, queries)
      .filter(col("cos") < threshold)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** DuckDB oracle for [[hardNegatives]] with queries =
    * vec_id < maxQueryId. */
  def hardNegativesOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             threshold: Double): String =
    s"""
    |WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |           WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |scored AS (
    |  SELECT query_id, cand_id,
    |    CAST(${dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${dotSql("c_emb", "c_emb", dim)} AS DOUBLE))) AS cos
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, cos,
    |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
    |  FROM scored WHERE cos < $threshold)
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** DuckDB oracle for [[cosineTopK]] with queries = vec_id < maxQueryId. */
  def cosineTopKOracleSql(dim: Int, k: Int, maxQueryId: Long): String =
    s"""
    |WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |           WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |scored AS (
    |  SELECT query_id, cand_id,
    |    CAST(${dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${dotSql("c_emb", "c_emb", dim)} AS DOUBLE))) AS cos
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, cos,
    |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
    |  FROM scored)
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** Scale path: sign-random-projection LSH buckets (Charikar 2002).
    * `nPlanes` pseudo-random hyperplanes with deterministic ±1 weights
    * (parity of a per-(plane,dim) integer hash); bucket = packed sign
    * bits. Search joins query and corpus on the bucket, then scores
    * exactly within the bucket — candidate set bounded by bucket
    * occupancy instead of corpus size.
    *
    * Projections accumulate as DECIMAL like [[dot]]: the sign test
    * `proj >= 0` must not flip between engines, and exact decimal
    * addition makes the sum fold-order independent. */
  def srpBucket(emb: Column, dim: Int, nPlanes: Int,
                planeOffset: Int = 0): Column =
    org.apache.spark.sql.graftext.DecimalVecBridge
      .srpBucketColumn(emb, nPlanes, planeOffset)

  /** Reference formulation of [[srpBucket]] as built-in higher-order
    * functions (struct-of-decimals fold over element indices) — the
    * executable spec of the kernel's exact decimal projection; each
    * plane's partial sum takes the identical (product -> cast Acc ->
    * add -> cast Acc) decimal sequence, so bucket values are
    * bit-identical to the SQL twin AND to the codegen'd kernel
    * (SimilaritySpec pins all three). */
  def srpBucketHof(emb: Column, dim: Int, nPlanes: Int,
                   planeOffset: Int = 0): Column = {
    val init = struct((0 until nPlanes).map(p =>
      lit(0L).cast(Acc).as(s"p$p")): _*)
    val folded = aggregate(
      sequence(lit(0), lit(dim - 1)), init,
      (acc, i) => {
        val x = element_at(emb, i + 1).cast("double")
        struct((0 until nPlanes).map { p =>
          val plane = planeOffset + p
          val h = pmod(lit(plane.toLong * 1315423911L) +
            i.cast("long") * lit(2654435761L), lit(2038074743L))
          val w = when(h.bitwiseAND(lit(1L)) === 1L, lit(1.0))
            .otherwise(lit(-1.0))
          (acc(s"p$p") + (x * w).cast(Acc)).cast(Acc).as(s"p$p")
        }: _*)
      })
    (0 until nPlanes).map { p =>
      when(folded(s"p$p") >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[srpBucket]] — same hash-parity weights, same
    * exact-decimal projection, same packed sign bits. */
  def srpBucketSql(emb: String, dim: Int, nPlanes: Int,
                   planeOffset: Int = 0): String = {
    val planes = (0 until nPlanes).map { p =>
      val plane = planeOffset + p
      val proj = s"list_reduce(list_prepend(CAST(0 AS DECIMAL(25,12)), " +
        s"list_transform(range(1, ${dim + 1}), " +
        s"i -> CAST(CAST($emb[i] AS DOUBLE) * " +
        s"(CASE WHEN (((${plane}::BIGINT * 1315423911 + (i - 1)::BIGINT * 2654435761) " +
        s"% 2038074743) & 1) = 1 THEN 1.0 ELSE -1.0 END) AS DECIMAL(25,12)))), " +
        s"(acc, v) -> CAST(acc + v AS DECIMAL(25,12)))"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }
    planes.mkString("(", " + ", ")")
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed (the dedup
    * suite's embedding leg — SURVEY §7.6). Candidate pairs = same SRP
    * bucket (each vector hashes to ONE bucket, so the pair join is a
    * shuffle on bucket id — no O(n²) stage anywhere); then exact
    * decimal cosine within the bucket, thresholded. At 100 TB the
    * bucket join partitions by bucket id and only bucket-local pairs
    * are materialized; skewed buckets are handled by AQE skew-join
    * splitting since the per-pair score is map-side. */
  def nearDupPairs(corpus: DataFrame, id: String, emb: String,
                   dim: Int, nPlanes: Int, minCosine: Double,
                   nTables: Int = 1): DataFrame = {
    // One row per (vector, table), all tables' buckets carried as an
    // array plus the embedding and its once-per-vector exact norm:
    // the candidate join is then a single equi shuffle on
    // (table, bucket) and every pair is scored INLINE from the join
    // row. Two former shuffles disappear: the pair-level distinct
    // (OR-amplification dedup is a first-matching-table predicate on
    // the two bucket arrays) and the per-side embedding re-fetch
    // joins. Shuffle volume is nTables × (embedding + norms) per
    // vector — linear in the corpus, vs. pair-count × embedding for
    // the fetch-after-distinct shape, and pairs on a clustered corpus
    // are the quadratic term.
    val withB = Pin.pin(corpus.select(col(id).as("vid"), col(emb).as("e"),
        array((0 until nTables).map(tbl =>
          srpBucket(col(emb), dim, nPlanes, tbl * nPlanes)): _*).as("bks"))
      .withColumn("n2", dot(col("e"), col("e")))
      // float squared norm, once per vector: the prefilter then costs
      // ONE float dot per candidate pair (dot >= t·√(f1·f2) ⟺
      // cosine >= t for t > 0) instead of three
      .withColumn("f2", graft.functions.VecMath.dotF(col("e"), col("e"))))
      // materialized ONCE before the self-join — both sides otherwise
      // re-evaluate the SRP-projection + norm lineage (Spark reuses
      // exchanges, not identical subtrees; same finding as the dedup
      // band joins, SCALE.md §9). n rows × (dim floats + tables longs)
      // — the bucketed-signature table a lakehouse would persist.
    val exploded = withB.select(col("vid"), col("e"), col("n2"), col("f2"),
        col("bks"), explode(sequence(lit(0), lit(nTables - 1))).as("tbl"))
      .withColumn("bk", element_at(col("bks"), col("tbl") + 1))
    val a = Dedup.spread(exploded.select(col("tbl"), col("bk"),
      col("vid").as("d1"), col("e").as("e1"), col("n2").as("n1"),
      col("f2").as("fn1"), col("bks").as("bks1")), col("tbl"), col("bk"))
    val b = exploded.select(col("tbl").as("__t2"), col("bk").as("__k2"),
      col("vid").as("d2"), col("e").as("e2"), col("n2").as("__n2v"),
      col("f2").as("__fn2"), col("bks").as("bks2"))
    val noEarlierTable = (0 until nTables).map { tp =>
      when(col("tbl") > tp, element_at(col("bks1"), tp + 1) =!=
        element_at(col("bks2"), tp + 1)).otherwise(lit(true))
    }.reduce(_ && _)
    // two-phase scoring: the codegen'd float prefilter kills
    // non-starters cheaply (guard band 1e-3 >> float dot error ~1e-6
    // at dim<=4096, so no true pair is lost); the exact-decimal
    // cosine — the number the oracle hashes — is computed only for
    // survivors. The cross-multiplied form (one float dot per pair)
    // needs a positive threshold since norms are non-negative; at or
    // below the guard band it falls back to the three-dot float
    // cosine, which handles any threshold sign.
    import graft.functions.VecMath
    val preFilter =
      if (minCosine - 1e-3 > 0)
        VecMath.dotF(col("e1"), col("e2")) >=
          lit(minCosine - 1e-3) * sqrt(col("fn1") * col("__fn2"))
      else // still one dot per pair: the norms ride the join row
        VecMath.dotF(col("e1"), col("e2")) /
          sqrt(col("fn1") * col("__fn2")) >= lit(minCosine - 1e-3)
    a.join(b, col("tbl") === col("__t2") && col("bk") === col("__k2") &&
        col("d1") < col("d2"))
      .filter(noEarlierTable)
      .filter(preFilter)
      .withColumn("cos", cosine(
        dot(col("e1"), col("e2")), col("n1"), col("__n2v")))
      .filter(col("cos") >= minCosine)
      // reported at 6 decimals: the exact-decimal dot is bit-identical
      // across engines, but its decimal→double CONVERSION can differ
      // by ~1 ulp at large magnitudes (caught by the synthetic
      // second-corpus sweep at |cos| agreement 1e-13) — rounding
      // absorbs the conversion noise; both engines round half-up for
      // positive values
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
  }

  /** DuckDB oracle for [[nearDupPairs]] over `embeddings`. The OR of
    * per-table bucket equalities is pair-identical to the Spark side's
    * union-distinct of per-table equi-joins. */
  def nearDupOracleSql(dim: Int, nPlanes: Int, minCosine: Double,
                       nTables: Int = 1): String = {
    val bucketDefs = (0 until nTables).map(tbl =>
      s"${srpBucketSql("embedding", dim, nPlanes, tbl * nPlanes)} AS b$tbl")
      .mkString(",\n|  ")
    val anyBucket = (0 until nTables).map(tbl => s"a.b$tbl = b2.b$tbl")
      .mkString(" OR ")
    s"""
    |WITH b AS (SELECT vec_id, embedding,
    |  $bucketDefs
    |  FROM embeddings),
    |pairs AS (
    |  SELECT a.vec_id AS d1, b2.vec_id AS d2,
    |    CAST(${dotSql("a.embedding", "b2.embedding", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${dotSql("a.embedding", "a.embedding", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${dotSql("b2.embedding", "b2.embedding", dim)} AS DOUBLE))) AS cos
    |  FROM b a JOIN b b2 ON ($anyBucket) AND a.vec_id < b2.vec_id)
    |SELECT d1, d2, round(cos, 6) AS cos FROM pairs WHERE cos >= $minCosine
    |ORDER BY d1, d2
    |""".stripMargin.trim
  }

  /** The SRP-LSH configuration tuning curve in one query — the third
    * dial audit after the IVF probe curve ([[ivfProbeSweep]]) and the
    * minhash band curve ([[graft.ext.Dedup.bandSweep]]): pair RECALL
    * of [[nearDupPairs]] at each (planes, tables) configuration
    * against the exact all-pairs threshold set. More planes = smaller
    * buckets = candidates missed; more tables = OR amplification =
    * recall bought back — this emits that tradeoff measured on the
    * user's own corpus geometry (the i.i.d. formula misprices
    * clustered cones, which is what SrpStats/SCALE.md §10 found).
    *
    * The exact reference is the brute threshold join, computed ONCE
    * (two-phase: codegen float prefilter with the [[nearDupPairs]]
    * 1e-3 guard band, exact-decimal confirm), materialized and shared
    * across arms; each arm then pays its own bucketed candidate join.
    * At corpus scale the reference (and hence the sweep) runs on a
    * SAMPLE — the config decision needs the curve's shape, not the
    * full corpus row count. */
  def srpSweep(corpus: DataFrame, id: String, emb: String, dim: Int,
               minCosine: Double, configs: Seq[(Int, Int)]): DataFrame = {
    require(configs.nonEmpty, "sweep needs at least one config")
    import graft.functions.VecMath
    val base = Pin.pin(corpus.select(col(id).as("vid"), col(emb).as("e"))
      .withColumn("n2", dot(col("e"), col("e")))
      .withColumn("f2", VecMath.dotF(col("e"), col("e"))))
    val a = Dedup.spread(base.select(col("vid").as("d1"),
      col("e").as("e1"), col("n2").as("n1"), col("f2").as("fn1")),
      col("d1"))
    val b = base.select(col("vid").as("d2"), col("e").as("e2"),
      col("n2").as("n2b"), col("f2").as("fn2"))
    val preFilter =
      if (minCosine - 1e-3 > 0)
        VecMath.dotF(col("e1"), col("e2")) >=
          lit(minCosine - 1e-3) * sqrt(col("fn1") * col("fn2"))
      else
        VecMath.dotF(col("e1"), col("e2")) /
          sqrt(col("fn1") * col("fn2")) >= lit(minCosine - 1e-3)
    val exact = Pin.pin(a.crossJoin(b).filter(col("d1") < col("d2"))
      .filter(preFilter)
      .withColumn("cos", cosine(
        dot(col("e1"), col("e2")), col("n1"), col("n2b")))
      .filter(col("cos") >= minCosine)
      .select(col("d1"), col("d2")))
    configs.map { case (p, tb) =>
      val found = nearDupPairs(corpus, id, emb, dim, p, minCosine, tb)
        .select(col("d1"), col("d2"), lit(1L).as("__hit"))
      exact.join(found, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
        .select(lit(p.toLong).as("n_planes"), lit(tb.toLong).as("n_tables"),
          col("n_exact"), coalesce(col("n_found"), lit(0L)).as("n_found"))
        .withColumn("recall_ppm", expr(
          "CASE WHEN n_exact = 0 THEN 0L " +
            "ELSE (n_found * 1000000L) DIV n_exact END"))
    }.reduce(_.unionByName(_))
  }

  /** Full DuckDB oracle for [[srpSweep]] over `embeddings`. */
  def srpSweepOracleSql(dim: Int, minCosine: Double,
                        configs: Seq[(Int, Int)]): String = {
    def cos(x: String, y: String): String =
      s"CAST(${dotSql(x, y, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(x, x, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(y, y, dim)} AS DOUBLE)))"
    val arms = configs.map { case (p, tb) =>
      s"""SELECT CAST($p AS BIGINT) AS n_planes,
         |  CAST($tb AS BIGINT) AS n_tables,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(coalesce(sum(f.hit), 0) AS BIGINT) AS n_found,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |    ELSE (coalesce(sum(f.hit), 0) * 1000000) // count(*) END
         |    AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN (
         |  SELECT d1, d2, 1 AS hit FROM (
         |    ${nearDupOracleSql(dim, p, minCosine, tb)})
         |) f ON f.d1 = e.d1 AND f.d2 = e.d2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""
    |WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
    |exact AS (
    |  SELECT a.vec_id AS d1, b.vec_id AS d2
    |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
    |  WHERE ${cos("a.embedding", "b.embedding")} >= $minCosine)
    |$arms
    |ORDER BY n_planes, n_tables
    |""".stripMargin.trim
  }

  /** Cell-partitioned near-dup pairs — the density-ADAPTIVE
    * alternative to [[nearDupPairs]]' fixed SRP hyperplanes, and the
    * "next decade" design SCALE.md §10 sized from the SrpStats audit:
    * on cone-clustered corpora, hyperplanes cannot split a dense cone
    * (each +4 planes bought only ~2× there), but a Voronoi partition
    * over a corpus SAMPLE places cells in proportion to density, so
    * the dense cone is subdivided by construction. Cells are the first
    * `nCells` corpus vectors (the deterministic coarse quantizer
    * [[ivfCosineTopK]] already uses — at production scale, k-means
    * centroids slot in unchanged); each vector is assigned to its
    * `nProbe` nearest cells (recall amplification at cone boundaries —
    * a near-dup pair separated by a cell wall still meets in a shared
    * second-choice cell); candidate pairs share a cell. One equi
    * shuffle on cell id, never all-pairs; each pair emitted once, at
    * the SMALLEST shared cell (both cell arrays ride the join row
    * sorted, so "no smaller shared cell" is a codegen'd
    * `array_intersect` head test, not a pair-level distinct). Scoring
    * is the [[nearDupPairs]] two-phase float-prefilter → exact-decimal
    * cosine. */
  /** Comparator for array_sort over struct(score, cid): score DESC,
    * cid ASC — the assignment tie-break order the oracle ranks by. */
  private def byScoreDescCidAsc(l: Column, r: Column): Column =
    when(l.getField("s") > r.getField("s"), lit(-1))
      .when(l.getField("s") < r.getField("s"), lit(1))
      .when(l.getField("cid") < r.getField("cid"), lit(-1))
      .when(l.getField("cid") > r.getField("cid"), lit(1))
      .otherwise(lit(0))

  /** nProbe nearest cells per vector, computed INSIDE the row against
    * a driver-collected codebook shipped as ONE typed literal (nCells
    * × dim floats — the same driver-scale object as the k-means
    * centroid set). No n×nCells row expansion: the crossJoin+window
    * assignment formulation (retired in round 7 — every IVF/k-means
    * path now routes through here) is right for a handful of IVF
    * probe centroids, but at near-dup cell counts it materializes
    * n·nCells embedding-wide rows through a window sort — a 200k ×
    * 2048 assignment spilled /tmp to death before this path replaced
    * it with one shuffle-free projection; the round-7 decade probe
    * then caught the same bend at plain IVF/k-means widths (16
    * centroids, 600k vectors: exp 1.63). Ranking reproduces the
    * window formulation exactly: float scores for every cell, a
    * 1e-3 guard band around the nProbe-th, exact-decimal cosine with
    * c_id tie-break on the survivors (float structs carry only
    * (score, cid) — centroid vectors are re-fetched for the few
    * survivors, so the per-row sort moves 16-byte structs, not
    * embeddings). Output: `cells` = sorted array of the nProbe cell
    * ids.
    *
    * Two measured choices keep the per-row work honest at nCells in
    * the thousands (a 2048-cell 200k-row assignment never finished
    * its first run in 14 min before them, vs seconds after):
    * (1) centroid self-norms are precomputed ON THE DRIVER and ride
    * in the literal — [[graft.functions.VecMath.dotF]] accumulates
    * exact float products in double, so a driver fold in the same
    * order is bit-identical and halves the per-row dot count;
    * (2) ranking sorts struct(-score, cid) with the NATIVE
    * [[sort_array]] field-wise ordering (ascending -score = score
    * desc, cid asc — exactly [[byScoreDescCidAsc]]) instead of
    * `array_sort`'s lambda comparator, whose interpreted
    * O(nCells·log nCells) comparison evals per row dominated
    * everything. */
  /** Driver-scale codebook: the corpus vectors with id < nCells,
    * id-sorted, with double self-norms (the same driver-scale object
    * as the k-means centroid set). */
  private[graft] def collectCodebook(corpus: DataFrame, id: String, emb: String,
                              nCells: Int): Seq[(Long, Seq[Float], Double)] =
    corpus.filter(col(id) < nCells)
      .select(col(id).cast("long"), col(emb))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        var n2 = 0.0
        v.foreach(x => n2 += x.toDouble * x.toDouble)
        (r.getLong(0), v, math.sqrt(n2))
      }
      .sortBy(_._1).toSeq

  private[graft] def withNearestCells(corpus: DataFrame, id: String,
                                      emb: String, nCells: Int,
                                      nProbe: Int): DataFrame =
    assignWithCodebook(corpus, id, emb,
      collectCodebook(corpus, id, emb, nCells), nProbe)

  /** Assignment against an explicit codebook — lets an incremental
    * batch share the INDEX corpus's cells instead of deriving its
    * own. */
  private def assignWithCodebook(corpus: DataFrame, id: String,
                                 emb: String,
                                 cb: Seq[(Long, Seq[Float], Double)],
                                 nProbe: Int): DataFrame = {
    // loud beats silent-empty: an empty codebook means the centroid
    // cut (vec_id < nCentroids) missed the corpus entirely — every
    // downstream assignment would be vacuously empty
    require(cb.nonEmpty,
      "empty codebook: no corpus vectors under the centroid id cut")
    import graft.functions.VecMath
    // array<struct<_1: bigint cid, _2: array<float>, _3: double ‖c‖>>
    val cents = typedLit(cb)
    val dim = cb.head._2.length
    val flat = new Array[Float](cb.length * dim)
    cb.zipWithIndex.foreach { case ((_, v, _), i) =>
      var j = 0; while (j < dim) { flat(i * dim + j) = v(j); j += 1 }
    }
    val e = col("e")
    corpus.select(col(id).as("vid"), col(emb).as("e"))
      .withColumn("n2", dot(e, e))
      .withColumn("f2", VecMath.dotF(e, e))
      // float scoring of ALL cells in one compiled loop (the HOF
      // formulation interpreted nCells dots + an nCells·log nCells
      // struct sort per row — quadratic at the nCells ∝ n dial);
      // survivors come back as 1-based codebook positions
      .withColumn("__surv",
        org.apache.spark.sql.graftext.NearestCellsBridge.shortlistColumn(
        e, flat, cb.map(_._3).toArray, dim, nProbe))
      // exact-decimal re-rank touches only the ~nProbe survivors:
      // position-indexed element_at, never a scan of the codebook
      .withColumn("__exact", array_sort(
        transform(col("__surv"), p => {
          val c = element_at(cents, p)
          struct(
            cosine(dot(e, c.getField("_2")), col("n2"),
              dot(c.getField("_2"), c.getField("_2"))).as("s"),
            c.getField("_1").as("cid"))
        }),
        byScoreDescCidAsc))
      .withColumn("cells", sort_array(transform(
        slice(col("__exact"), 1, nProbe), x => x.getField("cid"))))
      .select(col("vid"), col("e"), col("n2"), col("f2"), col("cells"))
  }

  def cellNearDupPairs(corpus: DataFrame, id: String, emb: String,
                       dim: Int, nCells: Int, minCosine: Double,
                       nProbe: Int = 2): DataFrame =
    // one row per vector with its sorted cell set, materialized once
    // before the self-join (the §9 exchange-reuse finding): the
    // assignment is n × nCells float dots — the single most expensive
    // leg — and would otherwise run twice
    cellPairsFromAssignment(
      Pin.pin(withNearestCells(corpus, id, emb, nCells, nProbe)),
      minCosine)

  /** Pair enumeration shared by the flat and hierarchical cell paths:
    * input is the per-vector assignment (vid, e, n2, f2, cells). */
  private def cellPairsFromAssignment(withCells: DataFrame,
                                      minCosine: Double): DataFrame = {
    import graft.functions.VecMath
    val exploded = withCells.select(col("vid"), col("e"), col("n2"),
      col("f2"), col("cells"), explode(col("cells")).as("cell"))
    val a = Dedup.spread(exploded.select(col("cell"),
      col("vid").as("d1"), col("e").as("e1"), col("n2").as("n1"),
      col("f2").as("fn1"), col("cells").as("cells1")), col("cell"))
    val b = exploded.select(col("cell").as("__c2"), col("vid").as("d2"),
      col("e").as("e2"), col("n2").as("__n2v"), col("f2").as("__fn2"),
      col("cells").as("cells2"))
    // both arrays are sorted and array_intersect preserves the first
    // argument's order, so the head of the intersection IS the
    // smallest shared cell
    val firstSharedCell = element_at(
      array_intersect(col("cells1"), col("cells2")), 1) === col("cell")
    val preFilter =
      if (minCosine - 1e-3 > 0)
        VecMath.dotF(col("e1"), col("e2")) >=
          lit(minCosine - 1e-3) * sqrt(col("fn1") * col("__fn2"))
      else
        VecMath.dotF(col("e1"), col("e2")) /
          sqrt(col("fn1") * col("__fn2")) >= lit(minCosine - 1e-3)
    a.join(b, col("cell") === col("__c2") && col("d1") < col("d2"))
      .filter(firstSharedCell)
      .filter(preFilter)
      .withColumn("cos", cosine(
        dot(col("e1"), col("e2")), col("n1"), col("__n2v")))
      .filter(col("cos") >= minCosine)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
  }

  /** Shared CTE chain (through `pairs`) of the flat cell-path
    * oracles — consumed by [[cellNearDupOracleSql]] and
    * [[embeddingComponentsOracleSql]]. */
  private def cellNearDupCtes(dim: Int, nCells: Int,
                              nProbe: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCells),
    |v AS (SELECT vec_id AS vid, embedding AS e FROM embeddings),
    |assigned AS (
    |  SELECT vid, c_id FROM (
    |    SELECT v.vid, cent.c_id,
    |      row_number() OVER (PARTITION BY v.vid
    |        ORDER BY ${cos("v.e", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM v, cent) WHERE rn <= $nProbe),
    |cand AS (
    |  SELECT DISTINCT a.vid AS d1, b.vid AS d2
    |  FROM assigned a JOIN assigned b
    |    ON a.c_id = b.c_id AND a.vid < b.vid),
    |pairs AS (
    |  SELECT d1, d2, ${cos("v1.e", "v2.e")} AS cos
    |  FROM cand JOIN v v1 ON v1.vid = cand.d1
    |            JOIN v v2 ON v2.vid = cand.d2)""".stripMargin
  }

  /** Cell-occupancy audit — the nCells-sizing pre-flight every
    * cell-blocked operator (knnGraph, cellNearDupPairs, SemDeDup)
    * should run BEFORE committing to a dial: per primary cell the
    * occupant count and its pair-mass contribution n(n−1)/2, whose
    * SUM is the exact candidate-enumeration cost of the flat paths.
    * SCALE.md §39 measured why this matters: under-celling (160
    * cells on 20k vectors) cost 8× more than the assignment ever
    * does — occupancy, not assignment, is the first-order dial.
    * One assignment pass + one |nCells|-row agg. */
  def cellOccupancy(corpus: DataFrame, id: String, emb: String,
                    nCells: Int): DataFrame =
    withNearestCells(corpus, id, emb, nCells, 1)
      .select(explode(col("cells")).as("c_id"))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .select(col("c_id"), col("n_vectors").cast("long").as("n_vectors"),
        // decimal fold + integer div: `/` on longs is DOUBLE division
        // in Spark (precision loss past 2^53 pairs), and the bare
        // long product wraps past ~4.3e9 occupants
        expr("cast(n_vectors as decimal(38,0)) * (n_vectors - 1) div 2")
          .cast("long").as("n_pairs"))
      .orderBy("c_id")

  /** DuckDB twin of [[cellOccupancy]] over `embeddings`. */
  def cellOccupancyOracleSql(dim: Int, nCells: Int): String =
    s"""
    |WITH ${cellNearDupCtes(dim, nCells, 1)}
    |SELECT c_id, CAST(count(*) AS BIGINT) AS n_vectors,
    |  CAST(CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS BIGINT)
    |    AS n_pairs
    |FROM assigned GROUP BY c_id ORDER BY c_id
    |""".stripMargin.trim

  /** DuckDB oracle for [[cellNearDupPairs]] over `embeddings`. The
    * SQL side pays a pair-level DISTINCT where the Spark side uses
    * the smallest-shared-cell predicate — same pair set. Assignment
    * ranking matches the exact ordering every assignment path uses
    * (cosine DESC, c_id ASC), the parity [[ivfCosineTopKOracleSql]]
    * established. */
  def cellNearDupOracleSql(dim: Int, nCells: Int, minCosine: Double,
                           nProbe: Int = 2): String =
    s"""
    |WITH ${cellNearDupCtes(dim, nCells, nProbe)}
    |SELECT d1, d2, round(cos, 6) AS cos FROM pairs WHERE cos >= $minCosine
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** Cell-blocked symmetric k-NN GRAPH: every corpus vector's top-k
    * neighbors by exact cosine among its cell-candidate set — the
    * self-join the rest of the ANN family deliberately avoids
    * (embedding_topk/ann_* search a bounded QUERY set against the
    * corpus; the kNN graph makes every vector a query). This is the
    * standard input to graph clustering / SemDeDup variants / mutual-
    * kNN outlier pruning, and the scale shape is the cell partition:
    * candidates = same-cell pairs (Σ|cell|² bounded, nProbe recall
    * dial), never the n² broadcast an exact self-join would need.
    * Output: (vec_id, neighbor_id, cos, rank, mutual) — `mutual`=1
    * iff the edge survives in both directions' top-k (the mutual-kNN
    * edge set that downstream graph algorithms actually want;
    * asymmetric edges are hub artifacts). Recall < 1 by construction
    * for cell-missed neighbors — [[knnGraphRecall]] is the audit. */
  def knnGraph(corpus: DataFrame, id: String, emb: String, dim: Int,
               k: Int, nCells: Int, nProbe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    knnGraphFromAssignment(
      Pin.pin(withNearestCells(corpus, id, emb, nCells, nProbe)), k)
  }

  /** [[knnGraph]] with the two-level O(n·√nCells) cell assignment
    * ([[withNearestCellsHier]]) — the assignment-cost remedy measured
    * for SemDeDup (SCALE.md §23.1) applied to the kNN graph, so
    * nCells can be sized ∝ n without the per-row assignment blowing
    * up: each row scores sProbe supers and then only those supers'
    * child cells instead of all nCells. Downstream (pair enumeration,
    * the two keyed windows) is byte-identical to [[knnGraph]]; with
    * sProbe = nSuper every cell is reachable and the edge set equals
    * the flat graph's at the same (nCells, nProbe) — the parity
    * KnnGraphHierSpec pins. */
  def knnGraphHier(corpus: DataFrame, id: String, emb: String, dim: Int,
                   k: Int, nCells: Int, nSuper: Int, nProbe: Int = 2,
                   sProbe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    knnGraphFromAssignment(
      Pin.pin(withNearestCellsHier(corpus, id, emb, nCells, nSuper, nProbe,
        sProbe)), k)
  }

  private def knnGraphFromAssignment(withCells: DataFrame,
                                     k: Int): DataFrame = {
    // no-threshold pair enumeration (cos >= -1 keeps everything);
    // smallest-shared-cell dedup means each candidate pair scores once
    val pairs = cellPairsFromAssignment(withCells, -1.0)
    val sym = pairs.select(col("d1").as("src"), col("d2").as("nbr"),
        col("cos"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("nbr"),
        col("cos")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("nbr").asc)
    // mutuality WITHOUT a top-k self-join: each unordered pair occurs
    // exactly twice in `sym` (once per direction, same cos), so a
    // second window over the unordered pair key counts how many of
    // its two directions survive the per-source top-k — 2 = mutual.
    // One plan, two keyed windows, no join, no re-evaluation of the
    // pair enumeration (the join formulation would need a pin that
    // also hides the cell spread from plan contracts).
    val wPair = Window.partitionBy(
      least(col("src"), col("nbr")), greatest(col("src"), col("nbr")))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__surv2",
        sum(when(col("rank") <= k, 1L).otherwise(0L)).over(wPair))
      .filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("nbr").as("neighbor_id"),
        col("cos"), col("rank"),
        when(col("__surv2") === 2L, 1L).otherwise(0L).as("mutual"))
  }

  /** DuckDB twin of [[knnGraph]] over `embeddings`. */
  def knnGraphOracleSql(dim: Int, k: Int, nCells: Int,
                        nProbe: Int = 2): String =
    s"""
    |WITH ${cellNearDupCtes(dim, nCells, nProbe)},
    |sym AS (SELECT d1 AS src, d2 AS nbr, cos FROM pairs
    |        UNION ALL SELECT d2, d1, cos FROM pairs),
    |ranked AS (
    |  SELECT src, nbr, round(cos, 6) AS cos,
    |    CAST(row_number() OVER (PARTITION BY src
    |      ORDER BY round(cos, 6) DESC, nbr) AS BIGINT) AS rank
    |  FROM sym),
    |topk AS (SELECT * FROM ranked WHERE rank <= $k)
    |SELECT t.src AS vec_id, t.nbr AS neighbor_id, t.cos, t.rank,
    |  CAST(CASE WHEN EXISTS (SELECT 1 FROM topk r
    |      WHERE r.src = t.nbr AND r.nbr = t.src)
    |    THEN 1 ELSE 0 END AS BIGINT) AS mutual
    |FROM topk t ORDER BY vec_id, rank
    |""".stripMargin.trim

  /** recall@k of the [[knnGraph]] edge set vs the exact top-k, for a
    * bounded query subsample — the nProbe/nCells audit for the graph
    * (the ann_recall pattern applied to the self-join). */
  def knnGraphRecall(corpus: DataFrame, id: String, emb: String,
                     dim: Int, k: Int, nCells: Int, nProbe: Int,
                     maxQueryId: Long): DataFrame = {
    val approx = knnGraph(corpus, id, emb, dim, k, nCells, nProbe)
      .filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"),
        col("neighbor_id").as("cand_id"))
    val queries = corpus.filter(col(id) < maxQueryId)
    recallVsExact(corpus, queries, k, approx)
  }

  /** DuckDB twin of [[knnGraphRecall]] over `embeddings`. */
  def knnGraphRecallOracleSql(dim: Int, k: Int, nCells: Int,
                              nProbe: Int, maxQueryId: Long): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH ${cellNearDupCtes(dim, nCells, nProbe)},
    |sym AS (SELECT d1 AS src, d2 AS nbr, cos FROM pairs
    |        UNION ALL SELECT d2, d1, cos FROM pairs),
    |g_ranked AS (
    |  SELECT src, nbr,
    |    row_number() OVER (PARTITION BY src
    |      ORDER BY round(cos, 6) DESC, nbr) AS rank
    |  FROM sym),
    |approx AS (SELECT src AS query_id, nbr AS cand_id FROM g_ranked
    |           WHERE rank <= $k AND src < $maxQueryId),
    |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |      WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c, q WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k)
    |SELECT e.query_id,
    |  CAST(count(a.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(a.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN approx a
    |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** Transitive near-dup clusters over the cell-path pair graph —
    * the embedding-side twin of
    * [[graft.ext.Dedup.nearDupComponents]] (SemDeDup-style semantic
    * cluster labels: every vector gets the min reachable vec_id as
    * its component). Pair enumeration is the already-scaled
    * [[cellNearDupPairs]]; labeling is the shared bounded
    * star-contraction core ([[graft.ext.Dedup.starComponents]]) —
    * ⌈log₂ edges⌉+2 rounds, one verification pass. Cell-missed pairs
    * (recall < 1 by construction) simply stay in separate
    * components, exactly as the oracle replays. */
  def embeddingComponents(corpus: DataFrame, dim: Int, nCells: Int,
                          minCosine: Double, nProbe: Int = 2): DataFrame = {
    val pairs = cellNearDupPairs(corpus, "vec_id", "embedding", dim,
      nCells, minCosine, nProbe).select(col("d1"), col("d2"))
    Dedup.starComponents(pairs,
        corpus.select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("component"))
  }

  /** DuckDB oracle for [[embeddingComponents]]: the cell-path pair
    * CTEs closed transitively with a recursive CTE (set-semantics
    * UNION bounds the recursion), min label per vector. */
  def embeddingComponentsOracleSql(dim: Int, nCells: Int,
                                   minCosine: Double,
                                   nProbe: Int = 2): String =
    s"""
    |WITH RECURSIVE ${cellNearDupCtes(dim, nCells, nProbe)},
    |fp AS (SELECT d1, d2 FROM pairs WHERE cos >= $minCosine),
    |edges AS (SELECT d1, d2 FROM fp UNION ALL SELECT d2, d1 FROM fp),
    |reach(vid, label) AS (
    |  SELECT vid, vid FROM v
    |  UNION
    |  SELECT e.d1, r.label FROM edges e JOIN reach r ON r.vid = e.d2)
    |SELECT vid AS vec_id, min(label) AS component
    |FROM reach GROUP BY vid
    |ORDER BY vec_id
    |""".stripMargin.trim

  /** Two-level (hierarchical) cell assignment — the O(n·√nCells)
    * remedy SCALE.md §12 sizes for the next decade: the flat
    * shortlist's n·nCells assignment flops are quadratic overall at
    * the constant-cell-size dial (nCells ∝ n). Here each vector ranks
    * only the ~√nCells super-cells, then the child cells of its
    * `sProbe` best supers — same float-shortlist → guard-band →
    * exact-decimal re-rank contract at both levels, so every ranking
    * the oracle recomputes is reproduced exactly.
    *
    * The cell→super mapping is computed by the SAME assignment
    * pipeline run over the centroid set itself (nCells rows,
    * nProbe=1), so its parity with the oracle's `child` CTE rides on
    * the already-proven flat parity rather than on a driver-side
    * re-implementation of decimal arithmetic. */
  private[graft] def withNearestCellsHier(corpus: DataFrame, id: String,
                                          emb: String, nCells: Int,
                                          nSuper: Int, nProbe: Int,
                                          sProbe: Int): DataFrame = {
    import graft.functions.VecMath
    require(nSuper <= nCells, "nSuper must be <= nCells")
    val cb = collectCodebook(corpus, id, emb, nCells)
    val dim = cb.head._2.length
    val sb = cb.filter(_._1 < nSuper)
    def flatten(entries: Seq[(Long, Seq[Float], Double)]): Array[Float] = {
      val f = new Array[Float](entries.length * dim)
      entries.zipWithIndex.foreach { case ((_, v, _), i) =>
        var j = 0; while (j < dim) { f(i * dim + j) = v(j); j += 1 }
      }
      f
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDF = cb.map { case (cid, v, _) => (cid, v) }
      .toDF("__cid", "__cemb")
    val mapping = withNearestCells(centDF, "__cid", "__cemb", nSuper, 1)
      .select(col("vid"), element_at(col("cells"), 1))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val posById = cb.zipWithIndex.map { case ((cid, _, _), i) => cid -> i }.toMap
    val sposById = sb.zipWithIndex.map { case ((sid, _, _), i) => sid -> i }.toMap
    val childAcc =
      Array.fill(sb.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    mapping.foreach { case (cellId, superId) =>
      childAcc(sposById(superId)) += posById(cellId)
    }
    val childrenBySuper = childAcc.map(_.sorted.toArray)
    val cents = typedLit(cb)
    val supCents = typedLit(sb)
    val e = col("e")
    corpus.select(col(id).as("vid"), col(emb).as("e"))
      .withColumn("n2", dot(e, e))
      .withColumn("f2", VecMath.dotF(e, e))
      .withColumn("__ssurv",
        org.apache.spark.sql.graftext.NearestCellsBridge.shortlistColumn(
          e, flatten(sb), sb.map(_._3).toArray, dim, sProbe))
      // exact re-rank of survivor supers; position order == s_id order
      // (sb is id-sorted), so cid tie-break matches the oracle's s_id
      .withColumn("__sexact", array_sort(
        transform(col("__ssurv"), p => {
          val s = element_at(supCents, p)
          struct(
            cosine(dot(e, s.getField("_2")), col("n2"),
              dot(s.getField("_2"), s.getField("_2"))).as("s"),
            p.cast("long").as("cid"))
        }),
        byScoreDescCidAsc))
      .withColumn("__sup", transform(slice(col("__sexact"), 1, sProbe),
        x => x.getField("cid").cast("int")))
      .withColumn("__surv",
        org.apache.spark.sql.graftext.NearestCellsBridge.childShortlistColumn(
          e, col("__sup"), flatten(cb), cb.map(_._3).toArray,
          childrenBySuper, dim, nProbe))
      .withColumn("__exact", array_sort(
        transform(col("__surv"), p => {
          val c = element_at(cents, p)
          struct(
            cosine(dot(e, c.getField("_2")), col("n2"),
              dot(c.getField("_2"), c.getField("_2"))).as("s"),
            c.getField("_1").as("cid"))
        }),
        byScoreDescCidAsc))
      .withColumn("cells", sort_array(transform(
        slice(col("__exact"), 1, nProbe), x => x.getField("cid"))))
      .select(col("vid"), col("e"), col("n2"), col("f2"), col("cells"))
  }

  /** [[cellNearDupPairs]] with the two-level assignment. */
  def cellNearDupPairsHier(corpus: DataFrame, id: String, emb: String,
                           dim: Int, nCells: Int, nSuper: Int,
                           minCosine: Double, nProbe: Int = 2,
                           sProbe: Int = 2): DataFrame =
    cellPairsFromAssignment(
      Pin.pin(withNearestCellsHier(corpus, id, emb, nCells, nSuper, nProbe,
        sProbe)), minCosine)

  /** DuckDB oracle for [[cellNearDupPairsHier]]: the flat oracle's
    * CTEs plus the super level — `child` re-derives the cell→super
    * mapping (top-1 super per centroid), `supassign` the per-vector
    * probed supers (top `sProbe`), and `assigned` ranks only cells
    * reachable through probed supers. */
  def cellNearDupHierOracleSql(dim: Int, nCells: Int, nSuper: Int,
                               minCosine: Double, nProbe: Int = 2,
                               sProbe: Int = 2): String =
    s"""
    |WITH ${cellNearDupHierCtes(dim, nCells, nSuper, nProbe, sProbe)}
    |SELECT d1, d2, round(cos, 6) AS cos FROM pairs WHERE cos >= $minCosine
    |ORDER BY d1, d2
    |""".stripMargin.trim

  /** The two-level CTE chain shared by the hier oracles — mirrors
    * [[withNearestCellsHier]] + pair enumeration, ending at
    * `pairs`(d1, d2, cos) with no threshold applied. `corpusPred`
    * bounds the corpus (`v`) — must be a PREFIX predicate containing
    * the `vec_id < nCells` centroid cut so codebook derivation stays
    * inside the corpus on both engines. */
  private def cellNearDupHierCtes(dim: Int, nCells: Int, nSuper: Int,
                                  nProbe: Int, sProbe: Int,
                                  corpusPred: String = "TRUE"): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCells),
    |sup AS (SELECT vec_id AS s_id, embedding AS s_emb
    |        FROM embeddings WHERE vec_id < $nSuper),
    |child AS (
    |  SELECT c_id, s_id FROM (
    |    SELECT cent.c_id, sup.s_id,
    |      row_number() OVER (PARTITION BY cent.c_id
    |        ORDER BY ${cos("cent.ct_emb", "sup.s_emb")} DESC, sup.s_id) AS rn
    |    FROM cent, sup) WHERE rn = 1),
    |v AS (SELECT vec_id AS vid, embedding AS e FROM embeddings
    |      WHERE $corpusPred),
    |supassign AS (
    |  SELECT vid, s_id FROM (
    |    SELECT v.vid, sup.s_id,
    |      row_number() OVER (PARTITION BY v.vid
    |        ORDER BY ${cos("v.e", "sup.s_emb")} DESC, sup.s_id) AS rn
    |    FROM v, sup) WHERE rn <= $sProbe),
    |assigned AS (
    |  SELECT vid, c_id FROM (
    |    SELECT sa.vid, ch.c_id,
    |      row_number() OVER (PARTITION BY sa.vid
    |        ORDER BY ${cos("v.e", "cent.ct_emb")} DESC, ch.c_id) AS rn
    |    FROM supassign sa
    |      JOIN child ch ON ch.s_id = sa.s_id
    |      JOIN cent ON cent.c_id = ch.c_id
    |      JOIN v ON v.vid = sa.vid) WHERE rn <= $nProbe),
    |cand AS (
    |  SELECT DISTINCT a.vid AS d1, b.vid AS d2
    |  FROM assigned a JOIN assigned b
    |    ON a.c_id = b.c_id AND a.vid < b.vid),
    |pairs AS (
    |  SELECT d1, d2, ${cos("v1.e", "v2.e")} AS cos
    |  FROM cand JOIN v v1 ON v1.vid = cand.d1
    |            JOIN v v2 ON v2.vid = cand.d2)
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[knnGraphHier]] over `embeddings` — the flat
    * [[knnGraphOracleSql]] tail over the two-level CTE chain.
    * `corpusPred` mirrors the declared dial's prefix slice (see
    * [[cellNearDupHierCtes]]'s contract). */
  def knnGraphHierOracleSql(dim: Int, k: Int, nCells: Int, nSuper: Int,
                            nProbe: Int = 2, sProbe: Int = 2,
                            corpusPred: String = "TRUE"): String =
    s"""
    |WITH ${cellNearDupHierCtes(dim, nCells, nSuper, nProbe, sProbe,
      corpusPred)},
    |sym AS (SELECT d1 AS src, d2 AS nbr, cos FROM pairs
    |        UNION ALL SELECT d2, d1, cos FROM pairs),
    |ranked AS (
    |  SELECT src, nbr, round(cos, 6) AS cos,
    |    CAST(row_number() OVER (PARTITION BY src
    |      ORDER BY round(cos, 6) DESC, nbr) AS BIGINT) AS rank
    |  FROM sym),
    |topk AS (SELECT * FROM ranked WHERE rank <= $k)
    |SELECT t.src AS vec_id, t.nbr AS neighbor_id, t.cos, t.rank,
    |  CAST(CASE WHEN EXISTS (SELECT 1 FROM topk r
    |      WHERE r.src = t.nbr AND r.nbr = t.src)
    |    THEN 1 ELSE 0 END AS BIGINT) AS mutual
    |FROM topk t ORDER BY vec_id, rank
    |""".stripMargin.trim

  /** Incremental cell near-dup: a new BATCH of vectors against a
    * persisted INDEX corpus — the embedding twin of
    * [[Dedup.dedupIncremental]], and the 100 TB ingest shape: the
    * codebook comes from the index, so a batch probes only its own
    * nProbe cells' index occupants instead of re-pairing the corpus.
    * Emits (d1 = index vec, d2 = batch vec, cos ≥ minCosine), each
    * pair once at the smallest shared cell. At production scale the
    * index side's assignment is computed once at index-build time and
    * persisted bucketed by cell; here it is derived in-query so the
    * oracle can see the same relation. */
  def cellNearDupIncremental(index: DataFrame, batch: DataFrame,
                             id: String, emb: String, dim: Int,
                             nCells: Int, minCosine: Double,
                             nProbe: Int = 2): DataFrame = {
    import graft.functions.VecMath
    val cb = collectCodebook(index, id, emb, nCells)
    val idx = Pin.pin(assignWithCodebook(index, id, emb, cb, nProbe))
    val bat = Pin.pin(assignWithCodebook(batch, id, emb, cb, nProbe))
    val a = Dedup.spread(
      idx.select(explode(col("cells")).as("cell"), col("vid").as("d1"),
        col("e").as("e1"), col("n2").as("n1"), col("f2").as("fn1"),
        col("cells").as("cells1")), col("cell"))
    val b = bat.select(explode(col("cells")).as("__c2"),
      col("vid").as("d2"), col("e").as("e2"), col("n2").as("__n2v"),
      col("f2").as("__fn2"), col("cells").as("cells2"))
    val firstSharedCell = element_at(
      array_intersect(col("cells1"), col("cells2")), 1) === col("cell")
    val preFilter =
      if (minCosine - 1e-3 > 0)
        VecMath.dotF(col("e1"), col("e2")) >=
          lit(minCosine - 1e-3) * sqrt(col("fn1") * col("__fn2"))
      else
        VecMath.dotF(col("e1"), col("e2")) /
          sqrt(col("fn1") * col("__fn2")) >= lit(minCosine - 1e-3)
    a.join(b, col("cell") === col("__c2"))
      .filter(firstSharedCell)
      .filter(preFilter)
      .withColumn("cos", cosine(
        dot(col("e1"), col("e2")), col("n1"), col("__n2v")))
      .filter(col("cos") >= minCosine)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
  }

  /** DuckDB oracle for [[cellNearDupIncremental]] with index =
    * vec_id < split, batch = the rest. */
  def cellNearDupIncrementalOracleSql(dim: Int, nCells: Int, split: Long,
                                      minCosine: Double,
                                      nProbe: Int = 2): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCells),
    |vi AS (SELECT vec_id AS vid, embedding AS e FROM embeddings
    |       WHERE vec_id < $split),
    |vb AS (SELECT vec_id AS vid, embedding AS e FROM embeddings
    |       WHERE vec_id >= $split),
    |ai AS (
    |  SELECT vid, c_id FROM (
    |    SELECT vi.vid, cent.c_id,
    |      row_number() OVER (PARTITION BY vi.vid
    |        ORDER BY ${cos("vi.e", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM vi, cent) WHERE rn <= $nProbe),
    |ab AS (
    |  SELECT vid, c_id FROM (
    |    SELECT vb.vid, cent.c_id,
    |      row_number() OVER (PARTITION BY vb.vid
    |        ORDER BY ${cos("vb.e", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM vb, cent) WHERE rn <= $nProbe),
    |cand AS (
    |  SELECT DISTINCT ai.vid AS d1, ab.vid AS d2
    |  FROM ai JOIN ab ON ai.c_id = ab.c_id),
    |pairs AS (
    |  SELECT d1, d2, ${cos("v1.e", "v2.e")} AS cos
    |  FROM cand JOIN vi v1 ON v1.vid = cand.d1
    |            JOIN vb v2 ON v2.vid = cand.d2)
    |SELECT d1, d2, round(cos, 6) AS cos FROM pairs WHERE cos >= $minCosine
    |ORDER BY d1, d2
    |""".stripMargin.trim
  }

  /** DuckDB oracle for [[lshCosineTopK]] with queries = vec_id < maxQueryId. */
  def lshCosineTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             nPlanes: Int): String =
    s"""
    |WITH b AS (SELECT vec_id, embedding,
    |  ${srpBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
    |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b
    |      WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb, bucket FROM b),
    |scored AS (
    |  SELECT query_id, cand_id,
    |    CAST(${dotSql("q_emb", "c_emb", dim)} AS DOUBLE) /
    |      (sqrt(CAST(${dotSql("q_emb", "q_emb", dim)} AS DOUBLE)) *
    |       sqrt(CAST(${dotSql("c_emb", "c_emb", dim)} AS DOUBLE))) AS cos
    |  FROM c JOIN q ON c.bucket = q.bucket AND query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, cos,
    |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
    |  FROM scored)
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** Brute-force top-k on the codegen'd [[graft.functions.VecMath]]
    * dot — the throughput path (whole-stage-codegen primitive loop,
    * no decimal arithmetic). Declared rows-only (engine-specific
    * float summation); agreement with the exact-decimal path is
    * covered by SimilaritySpec instead. */
  def nativeCosineTopK(corpus: DataFrame, queries: DataFrame,
                       k: Int): DataFrame = {
    import graft.functions.VecMath
    // norms once per vector, carried through the join — the scoring
    // loop is then ONE dot per pair, not three
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
      .withColumn("q_norm", sqrt(VecMath.dotF(col("q_emb"), col("q_emb"))))
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb")), col("cand_id"))
      .withColumn("c_norm", sqrt(VecMath.dotF(col("c_emb"), col("c_emb"))))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", VecMath.dotF(col("q_emb"), col("c_emb")) /
        (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // cos reported at 6 decimals on both engines: ranking uses full
      // precision, but decimal→double conversion can differ by ~1 ulp
      // across engines at large magnitudes (see nearDupPairs)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** DuckDB twin of [[graft.functions.VecMath.dotF]]: the same
    * left-to-right IEEE-double fold over `(double) a[i] * (double)
    * b[i]` products — double addition is a fixed correctly-rounded
    * op, so an identical fold order gives a bit-identical sum. */
  def dotFSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  /** DuckDB oracle for [[nativeCosineTopK]] (queries = vec_id <
    * maxQueryId): the float-dot throughput path is reproducible after
    * all — its double fold is a deterministic sequence both engines
    * express exactly, it just isn't order-independent the way the
    * decimal path is, so the twin must (and does) fold in the same
    * element order. */
  def nativeCosineTopKOracleSql(dim: Int, k: Int, maxQueryId: Long): String =
    s"""
    |WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |           WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |scored AS (
    |  SELECT query_id, cand_id,
    |    ${dotFSql("q_emb", "c_emb", dim)} /
    |      (sqrt(${dotFSql("q_emb", "q_emb", dim)}) *
    |       sqrt(${dotFSql("c_emb", "c_emb", dim)})) AS cos
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, cos,
    |    CAST(row_number() OVER (PARTITION BY query_id
    |      ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
    |  FROM scored)
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** IVF (inverted-file) ANN top-k — the second scale path beside SRP
    * LSH, per the coarse-quantizer design of FAISS-style indexes:
    * every corpus vector is assigned to its nearest of `nCentroids`
    * coarse centroids (one inverted list per centroid); a query probes
    * its `nProbe` nearest centroids and scores only those lists.
    * Candidate cost is corpus/nCentroids · nProbe per query instead
    * of the whole corpus.
    *
    * The quantizer is deterministic: the first `nCentroids` vectors by
    * id act as centroids (k-means training would change only this CTE,
    * not the search plan — and a trained quantizer is not
    * oracle-reproducible, while this one is). Assignment ranks by the
    * same exact-decimal cosine as scoring, centroid id as tiebreak, so
    * both engines assign identically. */
  /** Corpus/query → probed-cell assignment via the compiled
    * [[org.apache.spark.sql.graftext.NearestCellsShortlist]] kernel +
    * exact-decimal re-rank (shared with the cell near-dup paths and
    * [[kmeansUpdate]]) — one codegen pass per row, no crossJoin, no
    * window. The crossJoin-and-window formulation this replaced bent
    * superlinear at the round-7 decade probe (n·k wide rows through a
    * per-vector window sort); exploded output shape (id, emb, n2,
    * c_id) is identical, so the oracles are untouched. */
  private[graft] def assignedCells(df: DataFrame, cb: Seq[(Long, Seq[Float], Double)],
                            idCol: String, embCol: String,
                            nBest: Int): DataFrame =
    assignWithCodebook(df, idCol, embCol, cb, nBest)
      .select(col("vid").as(idCol), col("e").as(embCol),
        col("n2").as("__n2"), explode(col("cells")).as("c_id"))

  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    nCentroids: Int, nProbe: Int): DataFrame =
    ivfCosineTopKWith(corpus, queries, k,
      collectCodebook(corpus, "vec_id", "embedding", nCentroids), nProbe)

  /** [[ivfCosineTopK]] over a PRECOMPUTED codebook — lets sweep /
    * repeated callers pay the driver-side codebook job once. */
  private def ivfCosineTopKWith(corpus: DataFrame, queries: DataFrame,
                                k: Int, cb: Seq[(Long, Seq[Float], Double)],
                                nProbe: Int): DataFrame = {
    val lists = assignedCells(Dedup.spread(corpus.select(
      col("vec_id").as("cand_id"), col("embedding").as("c_emb")),
      col("cand_id")), cb, "cand_id", "c_emb", 1)
    val probes = assignedCells(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), cb, "query_id", "q_emb", nProbe)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    probes.withColumnRenamed("__n2", "q_n2")
      .join(lists.withColumnRenamed("__n2", "c_n2"), Seq("c_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // cos reported at 6 decimals on both engines: ranking uses full
      // precision, but decimal→double conversion can differ by ~1 ulp
      // across engines at large magnitudes (see nearDupPairs)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** DuckDB oracle for [[ivfCosineTopK]] with queries = vec_id < maxQueryId. */
  def ivfCosineTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             nCentroids: Int, nProbe: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCentroids),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |      WHERE vec_id < $maxQueryId),
    |lists AS (
    |  SELECT cand_id, c_id, c_emb FROM (
    |    SELECT c.cand_id, cent.c_id, c.c_emb,
    |      row_number() OVER (PARTITION BY c.cand_id
    |        ORDER BY ${cos("c.c_emb", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM c, cent) WHERE rn <= 1),
    |probes AS (
    |  SELECT query_id, c_id, q_emb FROM (
    |    SELECT q.query_id, cent.c_id, q.q_emb,
    |      row_number() OVER (PARTITION BY q.query_id
    |        ORDER BY ${cos("q.q_emb", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM q, cent) WHERE rn <= $nProbe),
    |scored AS (
    |  SELECT query_id, cand_id, ${cos("q_emb", "c_emb")} AS cos
    |  FROM probes JOIN lists USING (c_id)
    |  WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, cos,
    |    CAST(row_number() OVER (PARTITION BY query_id
    |      ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
    |  FROM scored)
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  // ===================== IVF-PQ (product quantization) ==============
  //
  // The standard 100 TB vector-search layout (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011): an IVF
  // coarse quantizer prunes the corpus to nProbe cells, and within
  // the probed cells candidates are scored from m-byte PQ codes via
  // an ADC (asymmetric distance computation) lookup table — the scan
  // reads CODES (m small ints per vector), not float rows, so scan
  // cost decouples from float bandwidth. A final exact re-rank of the
  // top-`rerank` ADC survivors restores exact ordering on the handful
  // that matters — and makes the whole pipeline DuckDB-expressible:
  // every stage (codebook, encode-argmin, LUT, ADC sum, survivor cut,
  // exact re-rank) is deterministic relational algebra over exact
  // decimals, so the oracle replays it stage for stage.

  /** Exact decimal dot restricted to subspace `sub` — elements
    * [sub·subLen, (sub+1)·subLen) of both arrays. Compiled
    * ([[org.apache.spark.sql.graftext.DecimalVecDotSub]]); a PQ
    * codeword is stored FULL-WIDTH aligned at its subspace offset so
    * one shared offset addresses both sides (no per-row slicing). */
  def dotSub(a: Column, b: Column, sub: Column, subLen: Int): Column =
    org.apache.spark.sql.graftext.DecimalVecBridge
      .dotSubColumn(a, b, sub, subLen)

  /** DuckDB twin of [[dotSub]]; `sub` is any SQL int expression. */
  def dotSubSql(a: String, b: String, sub: String, subLen: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DECIMAL(25,12)), " +
      s"list_transform(range(1, ${subLen + 1}), " +
      s"i -> CAST(CAST($a[$sub * $subLen + i] AS DOUBLE) * " +
      s"CAST($b[$sub * $subLen + i] AS DOUBLE) AS DECIMAL(25,12)))), " +
      s"(acc, v) -> CAST(acc + v AS DECIMAL(25,12)))"

  /** Deterministic sample codebooks: codeword w of EVERY subspace is
    * corpus vector w (the first `ksub` by id), full-width. m·ksub
    * rows with per-subspace self-dots — broadcast-sized at any corpus
    * scale. The sample init is the deterministic, oracle-expressible
    * codebook and is itself the standard k-means++-free init for PQ
    * training. */
  def pqSampleCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                        subLen: Int): DataFrame =
    corpus.filter(col("vec_id") < ksub)
      .select(col("vec_id").as("cw_id"), col("embedding").as("cw_emb"))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("cw_n2s",
        dotSub(col("cw_emb"), col("cw_emb"), col("sub"), subLen))

  /** PQ-encode `df` against codebooks `cw`: per (row, subspace) the
    * codeword minimizing the exact-decimal subspace L2
    * (‖a−b‖² = a·a + b·b − 2a·b, every term a decimal [[dotSub]] so
    * the argmin cannot flip between engines; codeword id breaks
    * ties). The argmin is a min(struct) hash aggregate — map-side
    * combinable, no window shuffle. Per-row cost m·ksub ranged dots
    * of subLen each = dim·ksub FMAs — linear in corpus size; the
    * output is the m-code index payload (m bytes/vector at ksub ≤
    * 256, the 32× compression vs float32 that makes PQ the 100 TB
    * play). */
  // a NULL subspace distance (dotRange's overflow/NaN poison rule)
  // must LOSE the argmin on both engines: DuckDB's ORDER BY ranks
  // NULLs last, but Spark's struct-min would rank a null field FIRST
  // — the sentinel (max DECIMAL(25,12)) makes the orderings agree,
  // including the all-null case (every codeword ties, cw_id decides
  // on both sides)
  private val PqNullDist =
    lit(new java.math.BigDecimal("9999999999999.999999999999"))

  private def pqEncode(df: DataFrame, cw: DataFrame, idCol: String,
                       embCol: String, m: Int, subLen: Int): DataFrame =
    df.withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("__n2s", dotSub(col(embCol), col(embCol), col("sub"), subLen))
      .join(broadcast(cw), Seq("sub"))
      .withColumn("__d", coalesce(col("__n2s") + col("cw_n2s") -
        lit(2) * dotSub(col(embCol), col("cw_emb"), col("sub"), subLen),
        PqNullDist))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("__d"), col("cw_id"))).as("__m"))
      .select(col(idCol), col("sub"), col("__m.cw_id").as("code"))

  /** IVF-PQ ANN top-k with the supplied codebook table (shape of
    * [[pqSampleCodebooks]]).
    *
    * Scale shape, stage by stage:
    *  - index build: one corpus pass for the cell assignment
    *    (broadcast centroids) + one for PQ codes (broadcast
    *    codebooks, min-struct agg) — both linear, both
    *    embarrassingly parallel;
    *  - search: probes (|Q|·nProbe cells) join the inverted lists on
    *    cell id, so only ~nProbe/nCentroids of the corpus is touched;
    *    the ADC join reads (cand, sub, code) rows — the CODE table,
    *    never candidate floats — against a broadcast |Q|·m·ksub
    *    lookup table, then sums m decimal entries per pair;
    *  - re-rank: only |Q|·rerank survivors ever touch float vectors
    *    again, as one broadcast-hash join against the corpus scan.
    * The float-bandwidth term is confined to index build (once) and
    * the survivor handful — the property BENCH/SCALE measure. */
  /** The materialized IVF-PQ INDEX relation — (cand_id, c_id, sub,
    * code): every corpus vector's coarse cell plus its m PQ codes.
    * This is what a production deployment computes ONCE at ingest and
    * persists bucketed by c_id (m bytes of code payload per vector —
    * the 32× compression); [[ivfPqTopKWith]] derives it in-query only
    * because the ORACLE contract must replay the whole chain from raw
    * tables. BenchDecomp times exactly this relation as the build leg
    * of the declared PQ queries. */
  def ivfPqIndex(corpus: DataFrame, cw: DataFrame, nCentroids: Int,
                 m: Int, dim: Int): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"m=$m must divide dim=$dim")
    val cb = collectCodebook(corpus, "vec_id", "embedding", nCentroids)
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb")), col("cand_id"))
    val lists = assignedCells(c, cb, "cand_id", "c_emb", 1)
      .select(col("cand_id"), col("c_id"))
    val codes = pqEncode(c, cw, "cand_id", "c_emb", m, subLen)
    lists.join(codes, Seq("cand_id"))
  }

  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame, cw: DataFrame,
                    k: Int, nCentroids: Int, nProbe: Int, m: Int,
                    dim: Int, rerank: Int): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"m=$m must divide dim=$dim")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cb = collectCodebook(corpus, "vec_id", "embedding", nCentroids)
    val index = ivfPqIndex(corpus, cw, nCentroids, m, dim)
    // spread the query batch before the assignment kernel: a query
    // table small in bytes arrives as one scan partition, and the
    // per-row exact re-rank would run single-threaded (the same
    // spread ivfPqIndex already applies to the corpus side)
    val q = Dedup.spread(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), col("query_id"))
    val probes = assignedCells(q, cb, "query_id", "q_emb", nProbe)
      .select(col("query_id"), col("c_id"))
    ivfPqSearchStages(index, corpus, q, cw, probes, k, m, subLen, rerank)
  }

  /** The SEARCH leg shared by the in-query ([[ivfPqTopKWith]]) and
    * persisted ([[ivfPqSearchPersisted]]) IVF-PQ paths: probes join
    * the (cand_id, c_id, sub, code) index relation on cell id, ADC
    * scores the code rows against the broadcast |Q|·m·ksub lookup
    * table, and only the |Q|·rerank survivors join back to corpus
    * floats. `probes` is caller-supplied so the persisted path can
    * broadcast-hint it (which makes the partitioned codes scan
    * dynamic-partition-prunable) without perturbing the in-query
    * callers' pinned plans. */
  private[graft] def ivfPqSearchStages(index: DataFrame, corpus: DataFrame,
                                q: DataFrame, cw: DataFrame,
                                probes: DataFrame, k: Int, m: Int,
                                subLen: Int, rerank: Int,
                                rerankQ: Option[DataFrame] = None)
      : DataFrame = {
    // the decimal-heavy narrow points below all get an EXPLICIT
    // AQE-exempt spread (the Dedup.spread discipline): their rows are
    // byte-light but CPU-heavy (exact-decimal kernels), and AQE sizes
    // partitions by INPUT BYTES — measured at |Q|=1600/sf0.1, it ran
    // the whole |Q|·m·ksub LUT on the query table's single scan
    // partition (1.5 s) and coalesced the survivor window's exchange
    // to ONE task (2.3 s of decimal sort) out of a 5.6 s search leg
    // (SCALE.md §43). Each spread is keyed on the consumer's own
    // distribution, so no extra exchange materializes where one
    // already existed — the exchange is pinned wide, not added.
    // CONTRACT: `q` arrives already spread (both callers spread it
    // before probe assignment — spreading again here would stack a
    // second identical exchange on the lut branch).
    val lut = q.withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("__n2s", dotSub(col("q_emb"), col("q_emb"), col("sub"), subLen))
      .join(broadcast(cw), Seq("sub"))
      .withColumn("lut_d", col("__n2s") + col("cw_n2s") -
        lit(2) * dotSub(col("q_emb"), col("cw_emb"), col("sub"), subLen))
      .select(col("query_id"), col("sub"), col("cw_id").as("code"),
        col("lut_d"))
    val adc = probes.join(index, Seq("c_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("lut_d")).as("__adc"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("cand_id").asc)
    val survivors = Dedup.spread(adc, col("query_id"))
      .withColumn("__srn", row_number().over(ws))
      .filter(col("__srn") <= rerank)
      .select(col("query_id"), col("cand_id"))
    // the exact re-rank leg scores against `rerankQ` when supplied
    // (the decorrelated path: screen in residual space, re-rank in
    // the ORIGINAL space — same spread contract as `q`)
    val sq = survivors.join(
      rerankQ.getOrElse(q)
        .withColumn("q_n2", dot(col("q_emb"), col("q_emb"))),
      Seq("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    // survivor join BEFORE any per-row decimal math: only the
    // |Q|·rerank joined rows ever pay a dot. The dot-before-join
    // form computed c_n2 for EVERY corpus row — Catalyst does not
    // hoist an expensive projection above a join on its own, and the
    // decimal kernel over the whole corpus was the measured non-flat
    // term of the persisted search leg (20.1 s → 2.3 s at ×100,
    // SCALE.md §41). The corpus itself is NEVER spread (that would
    // shuffle the whole table); the spread lands on the join OUTPUT —
    // |Q|·rerank rows — so the survivor dots run wide while the
    // corpus still streams through the broadcast join filter.
    val joined = corpus
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(sq), Seq("cand_id"))
    Dedup.spread(joined, col("query_id"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // cos reported at 6 decimals on both engines (see nearDupPairs)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** IVF-PQ with the deterministic sample codebooks — the
    * oracle-checked surface. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int, nProbe: Int, m: Int, ksub: Int,
                dim: Int, rerank: Int): DataFrame =
    ivfPqTopKWith(corpus, queries,
      pqSampleCodebooks(corpus, m, ksub, dim / m),
      k, nCentroids, nProbe, m, dim, rerank)

  /** Persist the IVF-PQ index: build ONCE at ingest, search MANY —
    * the J43-style index lifecycle (build cost paid once) the
    * in-query oracle contract cannot express. Layout under `dir`:
    *
    *  - `codebooks/` — (sub, cw_id, cw_emb, cw_n2s): the m·ksub PQ
    *    codewords (driver-scale);
    *  - `centroids/` — (c_id, c_emb): the coarse IVF centroids
    *    (nCentroids rows, driver-scale);
    *  - `codes/` — (cand_id, sub, code) hive-PARTITIONED BY c_id:
    *    m small ints per vector, the 32× compression vs float32 —
    *    a 100 TB float corpus persists as ~3 TB of codes. Partitioned
    *    by coarse cell so a search touches only the nProbe/nCentroids
    *    probed directories (dynamic partition pruning). Layout choice,
    *    measured (SCALE.md §41): hive-DPP is the shipped default for
    *    the bounded-query-batch search shape — at ×100/1600 cells the
    *    bare probe-join walls are near-noise either way, but pruning
    *    advantage grows with corpus size. File count is ∝ nCells
    *    here; a bucketed layout keeps it constant and pre-shuffles the
    *    codes side for an index×index join too big to broadcast.
    *
    * Raw floats never enter the index — re-rank fetches the survivor
    * handful from the corpus table. `codes/` is written LAST, so its
    * `_SUCCESS` marker gates reuse: a crash mid-build leaves no
    * marker and the next caller rebuilds (mode=overwrite heals any
    * partial output — the StagedWrite posture without the rename
    * dance, acceptable because the index is derived data). */
  def ivfPqWriteIndex(corpus: DataFrame, cw: DataFrame, nCentroids: Int,
                      m: Int, dim: Int, dir: String): Unit = {
    val spark = corpus.sparkSession
    // in-place REBUILD honesty (the linkApproxWriteIndex rule): drop
    // the old codes completion marker BEFORE touching any store — a
    // crash between the codebooks overwrite and the codes overwrite
    // would otherwise leave NEW codebooks paired with the OLD
    // complete codes table, and ivfPqIndexExists would report the
    // inconsistent index complete
    val marker = new org.apache.hadoop.fs.Path(s"$dir/codes/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    cw.write.mode("overwrite").parquet(s"$dir/codebooks")
    val cb = collectCodebook(corpus, "vec_id", "embedding", nCentroids)
    import spark.implicits._
    cb.map { case (cid, v, _) => (cid, v) }.toDF("c_id", "c_emb")
      .withColumn("c_emb", col("c_emb").cast("array<float>"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    ivfPqIndex(corpus, cw, nCentroids, m, dim)
      .repartition(col("c_id"))
      .write.mode("overwrite").partitionBy("c_id")
      .parquet(s"$dir/codes")
  }

  /** True iff a complete index build exists under `dir` (the
    * `codes/_SUCCESS` marker — codes are written last). */
  def ivfPqIndexExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/codes/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Codebook DRIFT audit — the number that decides when a PQ index
    * must be REBUILT rather than appended to (rows appended after the
    * build are encoded against the BASE codebooks, and as the corpus
    * distribution drifts those codebooks quantize new rows worse).
    * One row: per-slice totals of the exact min-subspace-L2
    * quantization error (the PQ training objective, in
    * exact picounits — every distance is a multiple of 10⁻¹²) for
    * the base slice (`vec_id < splitId` — what the codebooks saw)
    * and the appended slice, plus `drift_ppm` = mean-error(new) /
    * mean-error(base) in exact ppm. ≈ 10⁶ means the appended rows
    * quantize as well as the base did (no drift); a deployment
    * schedules the rebuild when it crosses its chosen threshold.
    * `drift_ppm` is NULL — the declared undefined-ratio sentinel on
    * BOTH engines — when the base slice quantizes exactly (err_base
    * = 0; any nonzero new error is then infinite drift, visible in
    * `err_new_pico` directly) or when the appended slice is empty;
    * without the guard Spark's `div` nulls while DuckDB's `//`
    * RAISES on zero, the one input where the twins would diverge.
    *
    * Exactness: every per-(row, subspace) distance is an exact
    * DECIMAL(25,12) ([[dotSub]]), so the row-level 10¹² scaling below
    * is integral and the ppm ratio folds in integer space on both
    * engines — no float means, no rounding drift. Scale shape: one
    * corpus pass against broadcast codebooks (the [[pqEncode]] join),
    * one min agg, one global fold. */
  def pqDriftAudit(corpus: DataFrame, cw: DataFrame, m: Int, dim: Int,
                   splitId: Long): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"m=$m must divide dim=$dim")
    val c = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"))
    val dmin = c
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("__n2s", dotSub(col("c_emb"), col("c_emb"), col("sub"), subLen))
      .join(broadcast(cw), Seq("sub"))
      .withColumn("__d", col("__n2s") + col("cw_n2s") -
        lit(2) * dotSub(col("c_emb"), col("cw_emb"), col("sub"), subLen))
      .groupBy(col("cand_id"), col("sub"))
      .agg(min(col("__d")).as("__dmin"))
      // exact picounit integer per (row, subspace): __dmin is a
      // multiple of 10⁻¹² by construction
      .withColumn("__dp",
        expr("cast(__dmin * 1000000000000 as decimal(38,0))"))
    dmin.agg(
        expr(s"sum(case when cand_id < $splitId then 1 else 0 end)" +
          s" div $m").cast("long").as("n_base"),
        expr(s"sum(case when cand_id >= $splitId then 1 else 0 end)" +
          s" div $m").cast("long").as("n_new"),
        sum(when(col("cand_id") < splitId, col("__dp")))
          .cast("decimal(38,0)").as("__ebp"),
        sum(when(col("cand_id") >= splitId, col("__dp")))
          .cast("decimal(38,0)").as("__enp"))
      .select(col("n_base"), col("n_new"),
        col("__ebp").cast("long").as("err_base_pico"),
        col("__enp").cast("long").as("err_new_pico"),
        expr("case when coalesce(__ebp, 0) = 0 or n_new = 0 then null " +
          "else (__enp * n_base * 1000000) div (__ebp * n_new) end")
          .cast("long").as("drift_ppm"))
  }

  /** DuckDB twin of [[pqDriftAudit]] over `embeddings` with the
    * sample codebooks derived from the BASE slice (ksub < splitId, so
    * the codebook cut stays inside the base on both engines). */
  def pqDriftAuditOracleSql(dim: Int, splitId: Long, m: Int,
                            ksub: Int): String = {
    val subLen = dim / m
    def dsub(a: String, b: String): String = dotSubSql(a, b, "sub", subLen)
    require(ksub <= splitId, "codebook cut must sit inside the base slice")
    s"""
    |WITH cw AS (
    |  SELECT t.sub, e.vec_id AS cw_id, e.embedding AS cw_emb,
    |    ${dotSubSql("e.embedding", "e.embedding", "t.sub", subLen)} AS cw_n2s
    |  FROM embeddings e, range(0, $m) t(sub) WHERE e.vec_id < $ksub),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |dmin AS (
    |  SELECT c.cand_id, cw.sub,
    |    CAST(min(${dsub("c.c_emb", "c.c_emb")} + cw.cw_n2s
    |      - 2 * ${dsub("c.c_emb", "cw.cw_emb")}) * 1000000000000
    |      AS HUGEINT) AS dp
    |  FROM c, cw GROUP BY c.cand_id, cw.sub)
    |SELECT
    |  CAST(count(CASE WHEN cand_id < $splitId THEN 1 END) // $m
    |    AS BIGINT) AS n_base,
    |  CAST(count(CASE WHEN cand_id >= $splitId THEN 1 END) // $m
    |    AS BIGINT) AS n_new,
    |  CAST(sum(CASE WHEN cand_id < $splitId THEN dp END)
    |    AS BIGINT) AS err_base_pico,
    |  CAST(sum(CASE WHEN cand_id >= $splitId THEN dp END)
    |    AS BIGINT) AS err_new_pico,
    |  CAST(CASE
    |    WHEN coalesce(sum(CASE WHEN cand_id < $splitId THEN dp END), 0) = 0
    |      OR count(CASE WHEN cand_id >= $splitId THEN 1 END) // $m = 0
    |    THEN NULL
    |    ELSE (sum(CASE WHEN cand_id >= $splitId THEN dp END)
    |      * (count(CASE WHEN cand_id < $splitId THEN 1 END) // $m)
    |      * 1000000)
    |    // (sum(CASE WHEN cand_id < $splitId THEN dp END)
    |      * (count(CASE WHEN cand_id >= $splitId THEN 1 END) // $m))
    |    END AS BIGINT) AS drift_ppm
    |FROM dmin
    |""".stripMargin.trim
  }

  /** Search a PERSISTED IVF-PQ index ([[ivfPqWriteIndex]] layout):
    * the steady-state leg a production deployment pays per query
    * batch — load codebooks + centroids (both driver/broadcast
    * scale), assign probes, join the broadcast probe set into the
    * cell-partitioned codes table (dynamic partition pruning keeps
    * the scan to the probed cells), ADC-score, and re-rank only the
    * |Q|·rerank survivors against corpus floats. No raw-float pass
    * over the corpus, no index rebuild — the build cost lives in
    * [[ivfPqWriteIndex]], paid once at ingest. */
  def ivfPqSearchPersisted(spark: SparkSession, dir: String,
                           corpus: DataFrame, queries: DataFrame,
                           k: Int, nProbe: Int, m: Int, dim: Int,
                           rerank: Int): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"m=$m must divide dim=$dim")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cw = Tables.read(spark, s"$dir/codebooks")
    // probe assignment as a broadcast JOIN against the persisted
    // centroid RELATION — not the compiled-shortlist kernel the
    // in-query paths use. The kernel needs the codebook as a plan
    // literal (typedLit for its exact re-rank), and that literal
    // scales with nCentroids: at the nCells ∝ n dial the PLAN —
    // optimizer + codegen over the embedded codebook — was the
    // measured non-flat term of the search leg (6.5 s for a 10-row
    // probe assignment at 1600 cells, SCALE.md §41). The join form
    // ranks by the identical exact key (cosine DESC, c_id ASC — the
    // oracle's own formulation, so PersistedPqSpec's parity pin
    // carries over) with a plan whose SIZE is constant in
    // nCentroids; |Q|·nCentroids scoring rows are the right trade
    // for the bounded-query-batch search-service shape. The kernel
    // stays the right path where rows dominate cells (index build).
    val cents = Tables.read(spark, s"$dir/centroids")
    val index = Tables.read(spark, s"$dir/codes")
      .withColumn("c_id", col("c_id").cast("long"))
    // spread the query batch first (the ivfPqSearchStages contract):
    // probe scoring and the downstream LUT/survivor decimal kernels
    // otherwise run on the query table's single scan partition
    val q = Dedup.spread(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), col("query_id"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("__pcos").desc, col("c_id").asc)
    // self-norms hoisted to their own side: the centroid norm is
    // query-independent, so it folds nCentroids times, not
    // |Q|·nCentroids times inside the cross join
    val probes = broadcast(
      q.withColumn("__qn2", dot(col("q_emb"), col("q_emb")))
        .crossJoin(broadcast(
          cents.withColumn("__cn2", dot(col("c_emb"), col("c_emb")))))
        .withColumn("__pcos", cosine(
          dot(col("q_emb"), col("c_emb")), col("__qn2"), col("__cn2")))
        .withColumn("__prn", row_number().over(wp))
        .filter(col("__prn") <= nProbe)
        .select(col("query_id"), col("c_id")))
    ivfPqSearchStages(index, corpus, q, cw, probes, k, m, subLen, rerank)
  }

  /** CTE chain shared by the IVF-PQ oracles (full and incremental) —
    * mirrors [[ivfPqTopKWith]] stage for stage over `embeddings` with
    * caller-supplied corpus/query predicates (sample codebooks; the
    * centroid/codeword cuts use absolute vec_id bounds, so they must
    * fall inside the corpus predicate). Ends at
    * `pq_ranked`(query_id, cand_id, cos, rank). */
  private[ext] def ivfPqOracleCtes(dim: Int, k: Int, corpusPred: String,
                              queryPred: String,
                              nCentroids: Int, nProbe: Int, m: Int,
                              ksub: Int, rerank: Int,
                              src: String = "embeddings",
                              rerankC: String = "c",
                              rerankQ: String = "q"): String = {
    val subLen = dim / m
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    def dsub(a: String, b: String): String = dotSubSql(a, b, "sub", subLen)
    s"""
    |cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |         FROM $src WHERE vec_id < $nCentroids),
    |cw AS (
    |  SELECT t.sub, e.vec_id AS cw_id, e.embedding AS cw_emb,
    |    ${dotSubSql("e.embedding", "e.embedding", "t.sub", subLen)} AS cw_n2s
    |  FROM $src e, range(0, $m) t(sub) WHERE e.vec_id < $ksub),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM $src
    |      WHERE $corpusPred),
    |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM $src
    |      WHERE $queryPred),
    |lists AS (
    |  SELECT cand_id, c_id FROM (
    |    SELECT c.cand_id, cent.c_id,
    |      row_number() OVER (PARTITION BY c.cand_id
    |        ORDER BY ${cos("c.c_emb", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM c, cent) WHERE rn <= 1),
    |codes AS (
    |  SELECT cand_id, sub, cw_id AS code FROM (
    |    SELECT c.cand_id, cw.sub, cw.cw_id,
    |      row_number() OVER (PARTITION BY c.cand_id, cw.sub
    |        ORDER BY (${dsub("c.c_emb", "c.c_emb")} + cw.cw_n2s
    |          - 2 * ${dsub("c.c_emb", "cw.cw_emb")}) ASC, cw.cw_id) AS rn
    |    FROM c, cw) WHERE rn = 1),
    |probes AS (
    |  SELECT query_id, c_id FROM (
    |    SELECT q.query_id, cent.c_id,
    |      row_number() OVER (PARTITION BY q.query_id
    |        ORDER BY ${cos("q.q_emb", "cent.ct_emb")} DESC, cent.c_id) AS rn
    |    FROM q, cent) WHERE rn <= $nProbe),
    |lut AS (
    |  SELECT q.query_id, cw.sub, cw.cw_id AS code,
    |    (${dsub("q.q_emb", "q.q_emb")} + cw.cw_n2s
    |      - 2 * ${dsub("q.q_emb", "cw.cw_emb")}) AS lut_d
    |  FROM q, cw),
    |adc AS (
    |  SELECT p.query_id, i.cand_id, sum(l.lut_d) AS adc
    |  FROM probes p
    |    JOIN lists i USING (c_id)
    |    JOIN codes cd ON cd.cand_id = i.cand_id
    |    JOIN lut l ON l.query_id = p.query_id AND l.sub = cd.sub
    |      AND l.code = cd.code
    |  WHERE p.query_id <> i.cand_id
    |  GROUP BY p.query_id, i.cand_id),
    |short AS (
    |  SELECT query_id, cand_id FROM (
    |    SELECT query_id, cand_id,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY adc ASC, cand_id) AS rn
    |    FROM adc) WHERE rn <= $rerank),
    |pq_ranked AS (
    |  SELECT s.query_id, s.cand_id, ${cos("q.q_emb", "c.c_emb")} AS cos,
    |    CAST(row_number() OVER (PARTITION BY s.query_id
    |      ORDER BY ${cos("q.q_emb", "c.c_emb")} DESC, s.cand_id) AS BIGINT)
    |      AS rank
    |  FROM short s
    |    JOIN $rerankQ q ON q.query_id = s.query_id
    |    JOIN $rerankC c ON c.cand_id = s.cand_id)""".stripMargin.trim
  }

  /** DuckDB oracle for [[ivfPqTopK]] (queries = vec_id < maxQueryId). */
  def ivfPqTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                         nCentroids: Int, nProbe: Int, m: Int, ksub: Int,
                         rerank: Int): String =
    s"""
    |WITH ${ivfPqOracleCtes(dim, k, "TRUE", s"vec_id < $maxQueryId",
        nCentroids, nProbe, m, ksub, rerank)}
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM pq_ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** DuckDB oracle for the INCREMENTAL IVF-PQ ingest: index corpus =
    * vec_id < splitAt, batch queries = vec_id >= splitAt (codebooks
    * and coarse centroids derive from the index corpus only —
    * nCentroids and ksub must be <= splitAt). */
  def ivfPqIncrementalOracleSql(dim: Int, k: Int, splitAt: Long,
                                nCentroids: Int, nProbe: Int, m: Int,
                                ksub: Int, rerank: Int): String = {
    require(nCentroids <= splitAt && ksub <= splitAt,
      "codebooks must come from the index corpus")
    s"""
    |WITH ${ivfPqOracleCtes(dim, k, s"vec_id < $splitAt",
        s"vec_id >= $splitAt", nCentroids, nProbe, m, ksub, rerank)}
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM pq_ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  /** Recall@k of the IVF-PQ path vs the exact brute-force ranking —
    * the audit [[annRecall]] runs for LSH, here for the PQ index (an
    * approximate index without a measured recall is a silent-quality
    * bug). Same comparison shape: left join exact top-k to PQ top-k,
    * count hits per query. */
  /** Shared recall@k audit core: the exact decimal top-k left-joined
    * with an approximate path's (query_id, cand_id) picks, hits
    * counted per query — the single source every `*_recall` audit
    * composes, so the hit-count semantics cannot drift between the
    * LSH/PQ/binary/RRF variants. */
  private def recallVsExact(corpus: DataFrame, queries: DataFrame,
                            k: Int, approx: DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    recallFrom(cosineTopK(corpus, queries, k)
      .select(col("query_id"), col("cand_id")), k, approx)
  }

  /** [[recallVsExact]] over a PRECOMPUTED exact top-k frame — sweep
    * callers materialize the exact scan once across arms. */
  private def recallFrom(exact: DataFrame, k: Int,
                         approx: DataFrame): DataFrame =
    exact.join(approx.select(col("query_id"), col("cand_id"),
        lit(1L).as("__hit")), Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("n_hits", col("n_hits").cast("long"))
      .withColumn("recall_at_k",
        col("n_hits").cast("double") / lit(k).cast("double"))

  def pqRecall(corpus: DataFrame, queries: DataFrame, k: Int,
               nCentroids: Int, nProbe: Int, m: Int, ksub: Int,
               dim: Int, rerank: Int): DataFrame =
    recallVsExact(corpus, queries, k,
      ivfPqTopK(corpus, queries, k, nCentroids, nProbe, m, ksub, dim,
        rerank))

  /** The IVF nProbe TUNING CURVE in one query: recall@k of the IVF
    * path at each probe count, against the shared exact decimal scan —
    * the dial-sizing audit every IVF deployment runs first ("which
    * nProbe buys 0.95 recall on MY corpus?"), emitted as data instead
    * of being re-derived by hand per configuration. Probe-all
    * (nProbe = nCentroids) is exact by construction, so the curve's
    * last row doubles as a self-check. Cost shape: the codebook job
    * and the exact reference scan are paid ONCE and shared across
    * arms (materialized — exchange reuse does not cover identical
    * subtrees); each arm then pays only its own probed-cell scoring —
    * at corpus scale the sweep runs on a SAMPLE of queries (the
    * query side is already the bounded broadcast side). */
  def ivfProbeSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                    nCentroids: Int, probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty, "sweep needs at least one probe count")
    // shared across arms, paid ONCE: the codebook's driver job and
    // the exact scan (materialized — Spark reuses exchanges, not
    // identical subtrees, so an unmaterialized exact frame would
    // re-run its corpus×queries join per arm)
    val cb = collectCodebook(corpus, "vec_id", "embedding", nCentroids)
    val exact = Pin.pin(cosineTopK(corpus, queries, k)
      .select(col("query_id"), col("cand_id")))
    probes.map { np =>
      recallFrom(exact, k,
        ivfCosineTopKWith(corpus, queries, k, cb, np))
        .withColumn("n_probe", lit(np.toLong))
        .select(col("n_probe"), col("query_id"), col("n_hits"),
          col("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  /** Full DuckDB oracle for [[ivfProbeSweep]] over `embeddings`. */
  def ivfProbeSweepOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             nCentroids: Int,
                             probes: Seq[Int]): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    val arms = probes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS n_probe, e.query_id,
         |  CAST(count(a.cand_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.cand_id) AS DOUBLE) / $k AS recall_at_k
         |FROM exact e LEFT JOIN (
         |  SELECT query_id, cand_id FROM (
         |    ${ivfCosineTopKOracleSql(dim, k, maxQueryId, nCentroids, np)})
         |) a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
         |GROUP BY e.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""
    |WITH q0 AS (SELECT vec_id AS query_id, embedding AS q_emb
    |            FROM embeddings WHERE vec_id < $maxQueryId),
    |c0 AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c0, q0 WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k)
    |$arms
    |ORDER BY n_probe, query_id
    |""".stripMargin.trim
  }

  /** DuckDB twin of [[pqRecall]]. */
  def pqRecallOracleSql(dim: Int, k: Int, maxQueryId: Long,
                        nCentroids: Int, nProbe: Int, m: Int, ksub: Int,
                        rerank: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH ${ivfPqOracleCtes(dim, k, "TRUE", s"vec_id < $maxQueryId",
        nCentroids, nProbe, m, ksub, rerank)},
    |pq AS (SELECT query_id, cand_id FROM pq_ranked WHERE rank <= $k),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c, q WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k)
    |SELECT e.query_id,
    |  CAST(count(p.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(p.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN pq p
    |  ON e.query_id = p.query_id AND e.cand_id = p.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** IVF-PQ with DECORRELATED codes — the step that closes the loop
    * [[Pca]]'s scaladoc promises ("project/decorrelate before
    * indexing"): coarse cells, PQ codebooks and the ADC screen all
    * operate in the RESIDUAL space after subtracting the top-2
    * principal projections ([[Pca.residualize]], exact fixed point);
    * the survivor re-rank stays in the ORIGINAL space against raw
    * corpus floats, so the output metric is identical to
    * [[ivfPqTopK]]'s and recall@k against the exact scan compares
    * like for like.
    *
    * Why residual codes help: a dominant direction is a COMMON
    * component — every subspace's codewords spend their budget
    * re-expressing the same axis, and ADC distances are dominated by
    * a term that does not discriminate between neighbors. Subtracting
    * the top projections removes that shared term BEFORE codebook
    * training, so the same m·ksub code budget resolves the residual
    * geometry where neighbors actually differ. Equal code budget by
    * construction: same nCentroids cells, same m·ksub codewords, same
    * rerank — the decorrelated arm pays only the (one-off, build-time)
    * moment pass plus a pure-map residualization per side.
    *
    * Scale shape: identical to [[ivfPqTopKWith]] (the screen is the
    * same stages over a same-shape frame) plus two corpus maps; the
    * eigen step is codebook-class driver math (d(d+1)/2 cells). */
  def ivfPqTopKDecorrelated(corpus: DataFrame, queries: DataFrame,
                            v1: Array[Long], v2: Array[Long], k: Int,
                            nCentroids: Int, nProbe: Int, m: Int,
                            ksub: Int, dim: Int, rerank: Int): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"m=$m must divide dim=$dim")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // materialize the residual frames ONCE: left lazy, the residual
    // array expression gets inlined into every downstream decimal
    // kernel reference (codebook self-dots, encode argmin, probe
    // assignment) and re-evaluates per (row, sub, codeword) —
    // measured 174 s vs 4.1 s for the identical search at ×10
    // (SCALE.md §48). A production deployment persists the residual
    // table in the same pass that builds the index (the
    // embedding_enrich write-back shape); in-query, localCheckpoint
    // is that materialization.
    val rc = Pin.pin(Pca.residualize(corpus, col("vec_id"), col("embedding"),
      v1, v2))
    val rq = Pin.pin(Pca.residualize(queries, col("vec_id"), col("embedding"),
      v1, v2))
    val cw = pqSampleCodebooks(rc, m, ksub, subLen)
    val cb = collectCodebook(rc, "vec_id", "embedding", nCentroids)
    val index = ivfPqIndex(rc, cw, nCentroids, m, dim)
    val q = Dedup.spread(rq.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), col("query_id"))
    val probes = assignedCells(q, cb, "query_id", "q_emb", nProbe)
      .select(col("query_id"), col("c_id"))
    val qOrig = Dedup.spread(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), col("query_id"))
    ivfPqSearchStages(index, corpus, q, cw, probes, k, m, subLen,
      rerank, rerankQ = Some(qOrig))
  }

  /** [[ivfPqTopKDecorrelated]] with the directions derived in-query
    * (covariance → top-2 power iteration over the corpus) — the
    * declared-query surface. */
  def ivfPqTopKDecorrelatedAuto(corpus: DataFrame, queries: DataFrame,
                                k: Int, nCentroids: Int, nProbe: Int,
                                m: Int, ksub: Int, dim: Int,
                                rerank: Int, iters: Int): DataFrame = {
    val cov = Pca.covariance(corpus, col("vec_id"), col("embedding"),
      dim)
    val v1 = Pca.collectVec(Pca.powerIteration(cov, dim, iters))
    val v2 = Pca.collectVec(Pca.powerIteration2(cov, dim, iters))
    ivfPqTopKDecorrelated(corpus, queries, v1, v2, k, nCentroids,
      nProbe, m, ksub, dim, rerank)
  }

  /** recall@k of the decorrelated IVF-PQ path vs the exact scan —
    * the A/B twin of [[pqRecall]] at the same dials: the measured
    * answer to "was decorrelation worth a rewrite pass" that
    * `explained_ppm` only estimates. */
  def pqDecorrelatedRecall(corpus: DataFrame, queries: DataFrame,
                           k: Int, nCentroids: Int, nProbe: Int,
                           m: Int, ksub: Int, dim: Int, rerank: Int,
                           iters: Int): DataFrame =
    recallVsExact(corpus, queries, k,
      ivfPqTopKDecorrelatedAuto(corpus, queries, k, nCentroids, nProbe,
        m, ksub, dim, rerank, iters))

  /** DuckDB oracle for [[ivfPqTopKDecorrelatedAuto]] (queries =
    * vec_id < maxQueryId): the full quantize→eigen→residualize chain
    * ([[Pca.decorrCtes]]) feeds the standard IVF-PQ CTEs with
    * `resid` as the screen source and the raw table as the re-rank
    * source. */
  def ivfPqDecorrelatedOracleSql(dim: Int, k: Int, maxQueryId: Long,
                                 nCentroids: Int, nProbe: Int, m: Int,
                                 ksub: Int, rerank: Int,
                                 iters: Int): String =
    s"""
    |WITH ${Pca.decorrCtes(dim, iters)},
    |co AS (SELECT vec_id AS cand_id, embedding AS c_emb
    |       FROM embeddings),
    |qo AS (SELECT vec_id AS query_id, embedding AS q_emb
    |       FROM embeddings WHERE vec_id < $maxQueryId),
    |${ivfPqOracleCtes(dim, k, "TRUE", s"vec_id < $maxQueryId",
        nCentroids, nProbe, m, ksub, rerank, src = "resid",
        rerankC = "co", rerankQ = "qo")}
    |SELECT query_id, cand_id, round(cos, 6) AS cos, rank
    |FROM pq_ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim

  /** DuckDB oracle for [[pqDecorrelatedRecall]] — exact ranking over
    * the ORIGINAL vectors (co/qo), PQ picks from the decorrelated
    * chain. */
  def pqDecorrelatedRecallOracleSql(dim: Int, k: Int, maxQueryId: Long,
                                    nCentroids: Int, nProbe: Int,
                                    m: Int, ksub: Int, rerank: Int,
                                    iters: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH ${Pca.decorrCtes(dim, iters)},
    |co AS (SELECT vec_id AS cand_id, embedding AS c_emb
    |       FROM embeddings),
    |qo AS (SELECT vec_id AS query_id, embedding AS q_emb
    |       FROM embeddings WHERE vec_id < $maxQueryId),
    |${ivfPqOracleCtes(dim, k, "TRUE", s"vec_id < $maxQueryId",
        nCentroids, nProbe, m, ksub, rerank, src = "resid",
        rerankC = "co", rerankQ = "qo")},
    |pq AS (SELECT query_id, cand_id FROM pq_ranked WHERE rank <= $k),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM co, qo WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k)
    |SELECT e.query_id,
    |  CAST(count(p.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(p.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN pq p
    |  ON e.query_id = p.query_id AND e.cand_id = p.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** ANN top-k within SRP buckets; recall < 1 by construction (probe
    * multiple buckets / fewer planes for higher recall). */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    dim: Int, nPlanes: Int = 8): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      srpBucket(col("embedding"), dim, nPlanes).as("bucket"))
      .withColumn("q_n2", dot(col("q_emb"), col("q_emb")))
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"),
      srpBucket(col("embedding"), dim, nPlanes).as("__bucket2")),
      col("__bucket2"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    val scored = c.join(broadcast(q), col("bucket") === col("__bucket2") &&
        col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // cos reported at 6 decimals on both engines: ranking uses full
      // precision, but decimal→double conversion can differ by ~1 ulp
      // across engines at large magnitudes (see nearDupPairs)
      .select(col("query_id"), col("cand_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Symmetric int8 quantization audit: per-vector scale and the
    * reconstruction-error stats a pipeline checks before shipping a
    * quantized embedding table (the standard max-abs/127 scheme).
    * Pure column expressions over one row — a projection at any
    * scale, no shuffle.
    *
    * All arithmetic runs in DOUBLE on both engines (float->double is
    * exact; /, round, *, −, abs are each single IEEE ops on identical
    * inputs), so the error stats are bit-identical cross-engine. The
    * reductions are max and count — order-INDEPENDENT, which is why
    * no decimal accumulator is needed (a mean would reintroduce the
    * fold-order problem; see the [[dot]] scaladoc).
    *
    * Zero vectors have no scale and emit no row (oracle mirrors).
    *
    *   - `max_abs`: the per-vector dynamic range
    *   - `max_err`: worst |dequant(q_i) − v_i| (bounded by scale/2)
    *   - `n_zero`: components quantizing to 0 — the precision lost to
    *     one outlier dimension (motivates per-block scales at scale)
    */
  /** Brute-force top-k over int8-QUANTIZED vectors — the search path
    * the [[quantizeStats]] audit motivates: per-vector symmetric
    * quantization (q_j = round(v_j / (max_abs/127))), then a pure
    * int64 dot as the ranking score. The integer score makes the
    * whole pipeline engine-exact (no float fold-order concerns), and
    * at scale it is the memory-bandwidth play: an int8 corpus is 4×
    * smaller than float32, so 4× more candidates scan per second
    * from the same storage — the standard first step before IVF/PQ.
    * Zero vectors have no scale and are excluded (as in the audit).
    * Ties in the integer score break by candidate id, so ranks are
    * deterministic. Same join shape as [[cosineTopK]]: broadcast
    * queries over a spread corpus scan, one window for top-k. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    bits: Int = 8): DataFrame = {
    val levels = (1 << (bits - 1)) - 1
    def quant(df: DataFrame, idName: String, vecName: String) =
      df.select(col("vec_id").as(idName),
          transform(col("embedding"), v => v.cast("double")).as("__dv"))
        .withColumn("__ma", array_max(transform(col("__dv"), v => abs(v))))
        .filter(col("__ma") > 0.0)
        .select(col(idName),
          transform(col("__dv"), v =>
            round(v / (col("__ma") / levels)).cast("long")).as(vecName))
    val q = quant(queries, "query_id", "q_q")
    val c = Dedup.spread(quant(corpus, "cand_id", "c_q"), col("cand_id"))
    // native codegen int64 dot — the scoring loop stays inside
    // whole-stage codegen (one primitive loop per pair); an
    // aggregate(zip_with(...)) here is a boxed lambda chain and turns
    // the brute-force scan allocation-bound
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        org.apache.spark.sql.graftext.LongVecDot
          .dotColumn(col("q_q"), col("c_q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("score"), col("rank"))
  }

  /** Full DuckDB oracle for [[quantizedTopK]] over `embeddings`. */
  def quantizedTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             bits: Int = 8): String = {
    val levels = (1 << (bits - 1)) - 1
    s"""
    |WITH m AS (
    |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    |  FROM embeddings),
    |qq AS (
    |  SELECT vec_id, list_transform(dv,
    |    x -> CAST(round(x / (ma / $levels)) AS BIGINT)) AS qv
    |  FROM (SELECT vec_id, dv,
    |          list_max(list_transform(dv, x -> abs(x))) AS ma FROM m)
    |  WHERE ma > 0),
    |q AS (SELECT vec_id AS query_id, qv AS q_q FROM qq
    |      WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, qv AS c_q FROM qq),
    |scored AS (
    |  SELECT query_id, cand_id,
    |    list_reduce(list_prepend(CAST(0 AS BIGINT),
    |      list_transform(range($dim), i -> q_q[i + 1] * c_q[i + 1])),
    |      (acc, x) -> acc + x) AS score
    |  FROM c, q WHERE query_id <> cand_id),
    |ranked AS (
    |  SELECT query_id, cand_id, score,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY score DESC, cand_id) AS rank
    |  FROM scored)
    |SELECT query_id, cand_id, score, CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  def quantizeStats(emb: DataFrame, id: Column, vec: Column,
                    bits: Int = 8): DataFrame = {
    val levels = (1 << (bits - 1)) - 1
    emb.select(id.as("vec_id"),
        transform(vec, v => v.cast("double")).as("__dv"))
      // alias boundaries: each derived value is computed once per row
      // (CollapseProject keeps multiply-referenced alias boundaries)
      .withColumn("max_abs", array_max(transform(col("__dv"), v => abs(v))))
      .filter(col("max_abs") > 0.0)
      .withColumn("__scale", col("max_abs") / levels)
      .withColumn("__q",
        transform(col("__dv"), v => round(v / col("__scale"))))
      .select(col("vec_id"), col("max_abs"),
        array_max(zip_with(col("__q"), col("__dv"),
          (q, v) => abs(q * col("__scale") - v))).as("max_err"),
        size(filter(col("__q"), q => q === 0.0)).cast("long").as("n_zero"))
  }

  /** DuckDB twin of [[quantizeStats]] over `embeddings`. */
  def quantizeStatsOracleSql(bits: Int = 8): String = {
    val levels = (1 << (bits - 1)) - 1
    s"""
    |WITH v AS (
    |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    |  FROM embeddings),
    |m AS (
    |  SELECT vec_id, dv,
    |    list_max(list_transform(dv, x -> abs(x))) AS max_abs
    |  FROM v),
    |q AS (
    |  SELECT vec_id, dv, max_abs, max_abs / $levels AS scale,
    |    list_transform(dv, x -> round(x / (max_abs / $levels))) AS qv
    |  FROM m WHERE max_abs > 0)
    |SELECT vec_id, max_abs,
    |  list_max(list_transform(range(len(dv)),
    |    i -> abs(qv[i + 1] * scale - dv[i + 1]))) AS max_err,
    |  CAST(len(list_filter(qv, x -> x = 0)) AS BIGINT) AS n_zero
    |FROM q ORDER BY vec_id
    |""".stripMargin.trim
  }

  // ---------------------------------------------------------------
  // Binary (1-bit sign) quantization — the last rung of the
  // bandwidth ladder: float32 → int8 (quantizedTopK) → PQ codes
  // (ivfPqTopK) → 1 bit/dim (here, 32× smaller than float32)
  // ---------------------------------------------------------------

  /** Sign-bit signature: bit `i` of the packed array is set iff
    * `vec[i] >= 0`, packed 32 bits per int64 word (32, not 64, so no
    * value ever touches the sign bit — both engines then agree on
    * plain integer arithmetic with no unsigned-overflow cases).
    * ceil(dim/32) words; compile-time-unrolled bit masks, pure
    * codegen arithmetic. */
  def signPack(vec: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val nWords = (dim + 31) / 32
    array((0 until nWords).map { w =>
      (0 until 32).map { j =>
        val i = w * 32 + j
        if (i < dim)
          when(element_at(vec, i + 1).cast("double") >= 0.0, lit(1L << j))
            .otherwise(lit(0L))
        else lit(0L)
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between two packed sign signatures:
    * Σ popcount(xor) per word — integer-only, engine-exact. */
  def hammingPacked(a: Column, b: Column, nWords: Int): Column =
    (0 until nWords).map { w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
    }.reduce(_ + _).cast("long")

  /** Brute-force top-k over 1-BIT sign-quantized vectors with exact
    * re-rank — the asymmetric two-stage scan every binary-embedding
    * system runs (e.g. SRP sketches / RaBitQ-style sign codes):
    *
    *   1. SHORTLIST: Hamming distance over packed sign bits (xor +
    *      popcount — 2 int64 words per 64-dim vector, a 32× smaller
    *      scan than float32), top-`shortlist` per query by
    *      (hamming asc, cand_id).
    *   2. RE-RANK: the shortlist JOINS BACK to the float corpus and
    *      exact decimal-dot cosine ranks the survivors.
    *
    * The join-back is the scale-relevant shape: stage 1's per-pair
    * rows carry (query_id, cand_id, hamming) — 24 bytes — through
    * the top-k window, never the float vectors; only |Q|·shortlist
    * rows ever rejoin the float table. Ranking is engine-exact:
    * Hamming is integer, the re-rank dot is the exact decimal
    * kernel, ties break by cand_id.
    *
    * The declared result is the COMPOSED pipeline (both stages in
    * the oracle too), so correctness holds even where the 1-bit
    * shortlist misses a true neighbour — that gap is what
    * [[binaryRecall]] measures. */
  /** Hamming shortlist core shared by every 1-bit path
    * ([[binaryTopK]], [[ivfBinaryTopK]], [[rrfFuseTopK]]'s sign leg):
    * given paired (query_id, q_s, cand_id, c_s) rows — however the
    * caller paired them: brute broadcast cross join or IVF-cell equi
    * join — score xor+popcount Hamming and keep the `sl` best per
    * query, ties by cand_id. Emits `srank` (the shortlist rank) so
    * rank-consuming callers (RRF) and membership-consuming callers
    * (exact re-rank) share one tie-break definition. */
  private def hammingShortlist(pairs: DataFrame, nWords: Int,
                               sl: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("cand_id").asc)
    pairs.filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        hammingPacked(col("q_s"), col("c_s"), nWords).as("hamming"))
      .withColumn("srank", row_number().over(w).cast("long"))
      .filter(col("srank") <= sl)
  }

  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 dim: Int, shortlist: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val nWords = (dim + 31) / 32
    val q = queries.select(col("vec_id").as("query_id"),
      signPack(col("embedding"), dim).as("q_s"))
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id"),
      signPack(col("embedding"), dim).as("c_s")), col("cand_id"))
    val short = hammingShortlist(c.crossJoin(broadcast(q)), nWords, sl)
      .drop("srank")
    // join-back for the exact stage: queries re-broadcast, corpus
    // side is an equi join keyed on cand_id over |Q|·shortlist rows
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
      .withColumn("q_n2", dot(col("q_emb"), col("q_emb")))
    val cv = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    short.join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("hamming"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** DuckDB sign-pack twin of [[signPack]]. */
  def signPackSql(emb: String, dim: Int): String = {
    val nWords = (dim + 31) / 32
    s"list_transform(range($nWords), w -> CAST(list_sum(" +
      s"list_transform(range(32), j -> CASE WHEN w*32 + j < $dim AND " +
      s"CAST($emb[w*32 + j + 1] AS DOUBLE) >= 0 " +
      s"THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT))"
  }

  /** Full DuckDB oracle for [[binaryTopK]] over `embeddings`. */
  def binaryTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                          shortlist: Int = 0): String = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val nWords = (dim + 31) / 32
    val ham = (0 until nWords).map { w =>
      s"bit_count(xor(q_s[${w + 1}], c_s[${w + 1}]))"
    }.mkString(" + ")
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH sig AS (
    |  SELECT vec_id, embedding, ${signPackSql("embedding", dim)} AS s
    |  FROM embeddings),
    |q AS (SELECT vec_id AS query_id, s AS q_s FROM sig
    |      WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, s AS c_s FROM sig),
    |ham AS (
    |  SELECT query_id, cand_id, CAST($ham AS BIGINT) AS hamming
    |  FROM c, q WHERE query_id <> cand_id),
    |short AS (
    |  SELECT query_id, cand_id, hamming FROM (
    |    SELECT query_id, cand_id, hamming,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY hamming, cand_id) AS srank
    |    FROM ham) WHERE srank <= $sl),
    |ranked AS (
    |  SELECT s.query_id, s.cand_id, s.hamming,
    |    ${cos("qe.embedding", "ce.embedding")} AS cos,
    |    row_number() OVER (PARTITION BY s.query_id
    |      ORDER BY ${cos("qe.embedding", "ce.embedding")} DESC,
    |        s.cand_id) AS rank
    |  FROM short s
    |  JOIN embeddings qe ON qe.vec_id = s.query_id
    |  JOIN embeddings ce ON ce.vec_id = s.cand_id)
    |SELECT query_id, cand_id, hamming, round(cos, 6) AS cos,
    |  CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  /** IVF + binary: the production composition of the two pruning
    * axes — the IVF coarse quantizer cuts the corpus to nProbe
    * cells, the 1-bit sign signature Hamming-shortlists WITHIN the
    * probed cells, and the exact decimal re-rank joins back to the
    * float table for the survivors. At 100 TB this is the layout
    * where the cell scan reads 16-byte sign codes (not float rows)
    * and floats are touched for |Q|·shortlist rows only — the sign
    * twin of [[ivfPqTopK]] (Hamming instead of ADC: no codebook
    * training, coarser distances; the PQ path buys finer ranking for
    * a trained codebook). Stage determinism: cell assignment is the
    * shared compiled argmin, Hamming is integer, re-rank is the
    * exact decimal dot — ties all break by cand_id. */
  def ivfBinaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    dim: Int, nCentroids: Int, nProbe: Int,
                    shortlist: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val nWords = (dim + 31) / 32
    val cb = collectCodebook(corpus, "vec_id", "embedding", nCentroids)
    val lists = assignedCells(Dedup.spread(corpus.select(
        col("vec_id").as("cand_id"), col("embedding").as("c_emb")),
        col("cand_id")), cb, "cand_id", "c_emb", 1)
      .select(col("cand_id"), col("c_id"),
        signPack(col("c_emb"), dim).as("c_s"))
    val probes = assignedCells(queries.select(
        col("vec_id").as("query_id"), col("embedding").as("q_emb")),
        cb, "query_id", "q_emb", nProbe)
      .select(col("query_id"), col("c_id"),
        signPack(col("q_emb"), dim).as("q_s"))
    val short = hammingShortlist(lists.join(broadcast(probes),
      Seq("c_id")), nWords, sl).drop("srank")
    val qv = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("q_n2", dot(col("q_emb"), col("q_emb")))
    val cv = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    short.join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", cosine(
        dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("hamming"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Full DuckDB oracle for [[ivfBinaryTopK]] over `embeddings`. */
  def ivfBinaryTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                             nCentroids: Int, nProbe: Int,
                             shortlist: Int = 0): String = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val nWords = (dim + 31) / 32
    val ham = (0 until nWords).map { w =>
      s"bit_count(xor(q_s[${w + 1}], c_s[${w + 1}]))"
    }.mkString(" + ")
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCentroids),
    |c0 AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |q0 AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |       WHERE vec_id < $maxQueryId),
    |lists AS (
    |  SELECT cand_id, c_id, ${signPackSql("c_emb", dim)} AS c_s FROM (
    |    SELECT c0.cand_id, cent.c_id, c0.c_emb,
    |      row_number() OVER (PARTITION BY c0.cand_id
    |        ORDER BY ${cos("c0.c_emb", "cent.ct_emb")} DESC, cent.c_id)
    |        AS rn
    |    FROM c0, cent) WHERE rn <= 1),
    |probes AS (
    |  SELECT query_id, c_id, ${signPackSql("q_emb", dim)} AS q_s FROM (
    |    SELECT q0.query_id, cent.c_id, q0.q_emb,
    |      row_number() OVER (PARTITION BY q0.query_id
    |        ORDER BY ${cos("q0.q_emb", "cent.ct_emb")} DESC, cent.c_id)
    |        AS rn
    |    FROM q0, cent) WHERE rn <= $nProbe),
    |short AS (
    |  SELECT query_id, cand_id, hamming FROM (
    |    SELECT query_id, cand_id, CAST($ham AS BIGINT) AS hamming,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY CAST($ham AS BIGINT), cand_id) AS srank
    |    FROM lists JOIN probes USING (c_id)
    |    WHERE query_id <> cand_id) WHERE srank <= $sl),
    |ranked AS (
    |  SELECT s.query_id, s.cand_id, s.hamming,
    |    ${cos("qe.embedding", "ce.embedding")} AS cos,
    |    row_number() OVER (PARTITION BY s.query_id
    |      ORDER BY ${cos("qe.embedding", "ce.embedding")} DESC,
    |        s.cand_id) AS rank
    |  FROM short s
    |  JOIN embeddings qe ON qe.vec_id = s.query_id
    |  JOIN embeddings ce ON ce.vec_id = s.cand_id)
    |SELECT query_id, cand_id, hamming, round(cos, 6) AS cos,
    |  CAST(rank AS BIGINT) AS rank
    |FROM ranked WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  /** Recall@k of the 1-bit shortlist+re-rank pipeline against the
    * exact scan — the [[annRecall]] audit for [[binaryTopK]]. The
    * number that prices the 32× bandwidth saving: how many true
    * neighbours the sign sketch's shortlist keeps. */
  def binaryRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                   dim: Int, shortlist: Int = 0): DataFrame =
    recallVsExact(corpus, queries, k,
      binaryTopK(corpus, queries, k, dim, shortlist))

  /** DuckDB twin of [[binaryRecall]]. */
  def binaryRecallOracleSql(dim: Int, k: Int, maxQueryId: Long,
                            shortlist: Int = 0): String = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val nWords = (dim + 31) / 32
    val ham = (0 until nWords).map { w =>
      s"bit_count(xor(q_s[${w + 1}], c_s[${w + 1}]))"
    }.mkString(" + ")
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH q0 AS (SELECT vec_id AS query_id, embedding AS q_emb
    |            FROM embeddings WHERE vec_id < $maxQueryId),
    |c0 AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c0, q0 WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k),
    |sig AS (
    |  SELECT vec_id, embedding, ${signPackSql("embedding", dim)} AS s
    |  FROM embeddings),
    |q AS (SELECT vec_id AS query_id, s AS q_s FROM sig
    |      WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, s AS c_s FROM sig),
    |short AS (
    |  SELECT query_id, cand_id FROM (
    |    SELECT query_id, cand_id,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY CAST($ham AS BIGINT), cand_id) AS srank
    |    FROM c, q WHERE query_id <> cand_id) WHERE srank <= $sl),
    |bin AS (
    |  SELECT query_id, cand_id FROM (
    |    SELECT s.query_id, s.cand_id,
    |      row_number() OVER (PARTITION BY s.query_id
    |        ORDER BY ${cos("qe.embedding", "ce.embedding")} DESC,
    |          s.cand_id) AS rank
    |    FROM short s
    |    JOIN embeddings qe ON qe.vec_id = s.query_id
    |    JOIN embeddings ce ON ce.vec_id = s.cand_id)
    |  WHERE rank <= $k)
    |SELECT e.query_id,
    |  CAST(count(b.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(b.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN bin b
    |  ON e.query_id = b.query_id AND e.cand_id = b.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** Per-label centroid components — the k-means/Lloyd UPDATE step
    * (and the class-prototype builder for prototype classifiers):
    * posexplode each vector into (label, pos, value) and sum per
    * (label, position).
    *
    * Components accumulate in FIXED-POINT nano units:
    * `q = round(v · 10^9)` as int64. The multiply and the
    * half-away-from-zero round are each single exactly-rounded IEEE
    * operations on the same double in both engines, and int64
    * addition is exact and order-independent — so the sums cannot
    * drift under Spark's nondeterministic partial-agg order, run to
    * run or engine to engine. (A double sum would be order-dependent;
    * a per-element DECIMAL cast hits the engines' differing
    * last-digit rounding of arbitrary doubles — the [[dot]] kernel
    * tolerates that only because its inputs are product values with
    * matching shortest-repr roundings.) The mean is left to the
    * caller as the (sum_q_e9, n_vecs) pair: division would
    * reintroduce engine-specific rounding, and the k-means update
    * wants the mergeable sums anyway. Headroom: int64 holds ~9.2e18,
    * so ~1.8e9 vectors per (label, pos) cell at |v| ≤ 5 before the
    * sum needs a DECIMAL(38,0) widening.
    *
    * Scale shape: one hash aggregation keyed on (label, pos) with
    * map-side partial combine — the exploded stream never shuffles
    * raw, each partition pre-sums its |labels|·dim cells. Output is
    * |labels|·dim rows regardless of corpus size. */
  def labelCentroids(emb: DataFrame, label: Column,
                     vec: Column): DataFrame =
    emb.filter(vec.isNotNull)
      .select(label.as("label"), posexplode(vec).as(Seq("pos", "__v")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("__v").cast("double") * lit(1e9)).cast("long").as("__q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__q")).as("sum_q_e9"))

  /** DuckDB twin of [[labelCentroids]] over `embeddings` (dim must be
    * the fixed vector width). */
  def labelCentroidsOracleSql(dim: Int): String =
    s"""
    |WITH cells AS (
    |  SELECT label, i AS pos,
    |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e9) AS BIGINT) AS q
    |  FROM embeddings, range(0, $dim) t(i)
    |  WHERE embedding IS NOT NULL)
    |SELECT label, pos, count(*) AS n_vecs,
    |  CAST(sum(q) AS BIGINT) AS sum_q_e9
    |FROM cells GROUP BY label, pos
    |ORDER BY label, pos
    |""".stripMargin.trim

  /** One full k-means (Lloyd) iteration: ASSIGN every corpus vector
    * to its nearest centroid (highest exact-decimal cosine, centroid
    * id as tiebreak — the same float-prefiltered two-phase assignment
    * the IVF index build uses), then UPDATE by summing the member
    * vectors per (centroid, position) in fixed-point nano units (see
    * [[labelCentroids]]). The caller divides sum/n for the new
    * centroid and feeds it back; iterating is a driver-side loop over
    * this one DataFrame transform.
    *
    * Scale shape: the centroid table broadcasts (k vectors), the
    * corpus streams through one projection + one (c_id, pos)-keyed
    * hash agg with map-side combine — per iteration, one shuffle of
    * k·dim·partitions partial cells, never the corpus. This is the
    * textbook distributed Lloyd step. */
  /** Recall@k of the SRP-LSH ANN path against the exact brute-force
    * ranking — the evaluation an ANN index must pass before it
    * replaces the exact path in production (approximate retrieval
    * without a measured recall is a silent-quality bug, not an
    * optimization). Per query: how many of the TRUE top-k neighbors
    * ([[cosineTopK]]) the bucketed search ([[lshCosineTopK]])
    * returned.
    *
    * `recall_at_k = n_hits / k` is one int64→double conversion and
    * one IEEE division — portable (see [[Corpus.mixWeights]]).
    *
    * Scale shape: both sides are the already-scaled operators; the
    * comparison itself is a (query_id, cand_id)-keyed left join of
    * two k·|Q|-row frames plus one aggregation — negligible next to
    * the searches it audits. On a real corpus the exact side runs on
    * a SAMPLE of queries (recall estimation, not exhaustive
    * re-scoring); the sample predicate is the caller's `queries`. */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                dim: Int, nPlanes: Int): DataFrame =
    recallVsExact(corpus, queries, k,
      lshCosineTopK(corpus, queries, k, dim, nPlanes))

  /** DuckDB twin of [[annRecall]] (queries = vec_id < maxQueryId):
    * the exact and LSH CTE chains of their standalone oracles, joined. */
  def annRecallOracleSql(dim: Int, k: Int, maxQueryId: Long,
                         nPlanes: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    |           WHERE vec_id < $maxQueryId),
    |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c, q WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k),
    |b AS (SELECT vec_id, embedding,
    |  ${srpBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
    |lq AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b
    |       WHERE vec_id < $maxQueryId),
    |lc AS (SELECT vec_id AS cand_id, embedding AS c_emb, bucket FROM b),
    |l_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM lc JOIN lq ON lc.bucket = lq.bucket AND query_id <> cand_id),
    |lsh AS (SELECT query_id, cand_id FROM l_ranked WHERE rank <= $k)
    |SELECT e.query_id,
    |  CAST(count(l.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(l.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN lsh l
    |  ON e.query_id = l.query_id AND e.cand_id = l.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** Fixed-point member sums per (`key`, position) — the shared
    * UPDATE kernel of [[labelCentroids]] and [[kmeansUpdate]]. */
  private def fixedPointCellSums(assigned: DataFrame, key: String): DataFrame =
    assigned
      .select(col(key), posexplode(col("embedding")).as(Seq("pos", "__v")))
      .select(col(key), col("pos").cast("long").as("pos"),
        round(col("__v").cast("double") * lit(1e9)).cast("long").as("__q"))
      .groupBy(col(key), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__q")).as("sum_q_e9"))

  /** ASSIGN via the compiled [[org.apache.spark.sql.graftext.NearestCellsShortlist]]
    * kernel + exact-decimal re-rank of the survivor band — the same
    * two-phase semantics as the crossJoin-and-window formulation it
    * replaced, but one codegen pass per row with NO join and NO
    * window: the round-7 decade probe measured the window form
    * bending superlinear (5.2 s at 200k vectors → 31 s at 600k,
    * exp 1.63 — n·k wide rows through a per-vector window sort spill)
    * while this form stays a streaming projection at any n. */
  def kmeansUpdate(corpus: DataFrame, nCentroids: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"))
    fixedPointCellSums(
      assignWithCodebook(c, "vec_id", "embedding",
        collectCodebook(c, "vec_id", "embedding", nCentroids), 1)
        .select(col("vid").as("vec_id"), col("e").as("embedding"),
          element_at(col("cells"), 1).as("c_id")),
      "c_id")
  }

  /** DuckDB twin of [[kmeansUpdate]] over `embeddings`. */
  def kmeansUpdateOracleSql(dim: Int, nCentroids: Int): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    s"""
    |WITH cent AS (SELECT vec_id AS c_id, embedding AS ct_emb
    |              FROM embeddings WHERE vec_id < $nCentroids),
    |assign AS (
    |  SELECT vec_id, c_id FROM (
    |    SELECT e.vec_id, cent.c_id,
    |      row_number() OVER (PARTITION BY e.vec_id
    |        ORDER BY ${cos("e.embedding", "cent.ct_emb")} DESC, cent.c_id)
    |        AS rn
    |    FROM embeddings e, cent)
    |  WHERE rn = 1),
    |cells AS (
    |  SELECT a.c_id, i AS pos,
    |    CAST(round(CAST(e.embedding[i + 1] AS DOUBLE) * 1e9) AS BIGINT) AS q
    |  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id,
    |    range(0, $dim) t(i))
    |SELECT c_id, pos, count(*) AS n_vecs,
    |  CAST(sum(q) AS BIGINT) AS sum_q_e9
    |FROM cells GROUP BY c_id, pos
    |ORDER BY c_id, pos
    |""".stripMargin.trim
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of the two
    * cheap integer scan rankings — the int8 symmetric-quantized dot
    * ([[quantizedTopK]], 4× under float bandwidth) and the 1-bit sign
    * Hamming scan (16× under; the [[binaryTopK]] shortlist stage).
    * The multi-index ensemble move: each leg misranks differently, so
    * fusing their rank lists recovers neighbours either leg alone
    * drops, without ever touching a float during scoring.
    *
    * RRF score is fixed-point integer — `Σ_legs (10^9 div (k0 +
    * rank))`, absent leg contributes 0 — so the fused ordering is
    * exact-arithmetic deterministic across engines (no float sums to
    * tie-break). Final order: score desc, then cand_id.
    *
    * Scale shape: each leg is the measured brute scan (|Q|·|C|
    * integer kernel, queries broadcast, corpus streamed) and the
    * fusion itself is a |Q|·depth full-outer join + one bounded
    * window — at 100 TB the legs swap for their pruned twins
    * ([[ivfPqTopK]] / [[ivfBinaryTopK]]) and the fusion stage is
    * unchanged, which is the point: RRF needs only (query, cand,
    * rank) from each index, never scores on a shared scale. */
  def rrfFuseTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  dim: Int, depth: Int = 20, k0: Int = 60,
                  bits: Int = 8): DataFrame = {
    require(k > 0 && depth >= k, s"need depth >= k > 0, got k=$k depth=$depth")
    val nWords = (dim + 31) / 32
    val intLeg = quantizedTopK(corpus, queries, depth, bits)
      .select(col("query_id"), col("cand_id"),
        col("rank").as("int8_rank"))
    val q = queries.select(col("vec_id").as("query_id"),
      signPack(col("embedding"), dim).as("q_s"))
    val c = Dedup.spread(corpus.select(col("vec_id").as("cand_id"),
      signPack(col("embedding"), dim).as("c_s")), col("cand_id"))
    val signLeg = hammingShortlist(c.crossJoin(broadcast(q)), nWords,
        depth)
      .select(col("query_id"), col("cand_id"),
        col("srank").as("sign_rank"))
    val fused = intLeg
      .join(signLeg, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("int8_rank", coalesce(col("int8_rank"), lit(0L)))
      .withColumn("sign_rank", coalesce(col("sign_rank"), lit(0L)))
      .withColumn("rrf_fp", expr(
        s"""CASE WHEN int8_rank > 0
           | THEN 1000000000 DIV (int8_rank + $k0) ELSE 0 END +
           |CASE WHEN sign_rank > 0
           | THEN 1000000000 DIV (sign_rank + $k0) ELSE 0 END""".stripMargin))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("cand_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("int8_rank"),
        col("sign_rank"), col("rrf_fp"), col("rank"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of a BM25 TEXT leg
    * (query = a term set over `documents`) and a cosine VECTOR leg
    * (query = one embedding over `embeddings`) — the industry-standard
    * hybrid-search composition, fused over the UNION of the two
    * top-`depth` lists (an id present in only one leg scores with that
    * leg alone, the standard RRF convention). Scores are the
    * [[rrfFuseTopK]] fixed-point 1e9 div (rank + k0), so the fused
    * order is exact across engines.
    *
    * Shape: each leg is its own tested operator
    * ([[Corpus.bm25TopK]] — driver-literal stats, pure integer
    * projection into a TakeOrdered; [[cosineTopK]] — broadcast query
    * side); the fusion then touches only 2·depth rows, so its global
    * windows sort a BOUNDED relation (≤ 2·depth), never the corpus. */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame,
                    terms: Seq[String], queryVecId: Long, k: Int,
                    depth: Int = 20, k0: Int = 60): DataFrame = {
    require(k > 0 && depth >= k, s"need depth >= k > 0, got k=$k depth=$depth")
    val text = Corpus.bm25TopK(docs, col("doc_id"), col("text"),
        terms, depth)
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("score_fp").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id").as("cand_id"), col("text_rank"))
    val vec = cosineTopK(emb,
        emb.filter(col("vec_id") === queryVecId), depth)
      .select(col("cand_id"), col("rank").as("vec_rank"))
    val fused = text.join(vec, Seq("cand_id"), "full_outer")
      .withColumn("text_rank", coalesce(col("text_rank"), lit(0L)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L)))
      .withColumn("rrf_fp", expr(
        s"""CASE WHEN text_rank > 0
           | THEN 1000000000 DIV (text_rank + $k0) ELSE 0 END +
           |CASE WHEN vec_rank > 0
           | THEN 1000000000 DIV (vec_rank + $k0) ELSE 0 END""".stripMargin))
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_fp").desc, col("cand_id")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("cand_id"), col("text_rank"), col("vec_rank"),
        col("rrf_fp"), col("rank"))
  }

  /** DuckDB twin of [[hybridRrfTopK]] (vector query = embedding
    * `queryVecId`; the cosine leg reuses [[cosineTopKOracleSql]] with
    * the id cut queryVecId+1, so it must be the smallest id — the
    * fixture uses 0). */
  def hybridRrfTopKOracleSql(dim: Int, terms: Seq[String],
                             queryVecId: Long, k: Int,
                             depth: Int = 20, k0: Int = 60): String = {
    require(queryVecId == 0L,
      "oracle composes the < maxQueryId cut; only vec 0 is supported")
    s"""
    |SELECT cand_id, text_rank, vec_rank, rrf_fp, rank FROM (
    |  SELECT cand_id, text_rank, vec_rank, rrf_fp,
    |    row_number() OVER (ORDER BY rrf_fp DESC, cand_id) AS rank
    |  FROM (
    |    SELECT COALESCE(t.cand_id, v.cand_id) AS cand_id,
    |      COALESCE(t.text_rank, 0) AS text_rank,
    |      COALESCE(v.vec_rank, 0) AS vec_rank,
    |      CAST(
    |        (CASE WHEN COALESCE(t.text_rank, 0) > 0
    |          THEN 1000000000 // (t.text_rank + $k0) ELSE 0 END) +
    |        (CASE WHEN COALESCE(v.vec_rank, 0) > 0
    |          THEN 1000000000 // (v.vec_rank + $k0) ELSE 0 END)
    |        AS BIGINT) AS rrf_fp
    |    FROM (
    |      SELECT doc_id AS cand_id,
    |        row_number() OVER (ORDER BY score_fp DESC, doc_id)
    |          AS text_rank
    |      FROM (${Corpus.bm25TopKOracleSql(terms, depth)
      .replace("\n", "\n|      ")})) t
    |    FULL OUTER JOIN (
    |      SELECT cand_id, rank AS vec_rank
    |      FROM (${cosineTopKOracleSql(dim, depth, queryVecId + 1)
      .replace("\n", "\n|      ")})) v
    |    ON t.cand_id = v.cand_id))
    |WHERE rank <= $k ORDER BY rank
    |""".stripMargin.trim
  }

  /** [[hybridRrfTopK]] re-plumbed onto the PERSISTED index pair —
    * the serve-path composition: the text leg reads the BM25
    * inverted index ([[Lexical.lexSearchIndex]], |postings of the
    * query's terms|), the vector leg reads the IVF-PQ index
    * ([[ivfPqSearchPersisted]], nProbe cells + bounded re-rank), and
    * NEITHER leg scans the corpus. One query, two indexes — the
    * deployment shape hybrid search actually runs at 100 TB, where
    * the one-pass legs of [[hybridRrfTopK]] are a batch posture.
    * Fusion is identical fixed-point RRF over ≤ 2·depth rows.
    *
    * Exactness contract: the text leg is bit-equal to
    * [[Corpus.bm25TopK]] by the lexSearchIndex parity pin; the
    * vector leg is the PQ APPROXIMATION (that is the serve
    * trade-off being composed, priced by `ann_pq_recall`), and the
    * oracle reproduces the same PQ arithmetic, so the fused order is
    * still engine-exact. */
  def hybridServeTopK(spark: SparkSession, lexDir: String, pqDir: String,
                      corpus: DataFrame, terms: Seq[String],
                      queryVecId: Long, k: Int, depth: Int = 20,
                      k0: Int = 60, nBuckets: Int = 64, nProbe: Int = 4,
                      m: Int = 8, dim: Int = 64,
                      rerank: Int = 20): DataFrame = {
    require(k > 0 && depth >= k, s"need depth >= k > 0, got k=$k depth=$depth")
    val text = Lexical.lexSearchIndex(spark, lexDir, terms, depth,
        nBuckets)
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("score_fp").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id").as("cand_id"), col("text_rank"))
    val vec = ivfPqSearchPersisted(spark, pqDir, corpus,
        corpus.filter(col("vec_id") === queryVecId), depth, nProbe, m,
        dim, rerank)
      .select(col("cand_id"), col("rank").as("vec_rank"))
    val fused = text.join(vec, Seq("cand_id"), "full_outer")
      .withColumn("text_rank", coalesce(col("text_rank"), lit(0L)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L)))
      .withColumn("rrf_fp", expr(
        s"""CASE WHEN text_rank > 0
           | THEN 1000000000 DIV (text_rank + $k0) ELSE 0 END +
           |CASE WHEN vec_rank > 0
           | THEN 1000000000 DIV (vec_rank + $k0) ELSE 0 END""".stripMargin))
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_fp").desc, col("cand_id")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("cand_id"), col("text_rank"), col("vec_rank"),
        col("rrf_fp"), col("rank"))
      .orderBy("rank")
  }

  /** The serve path's own audit — overlap@k of [[hybridServeTopK]]
    * (PQ vector leg) against [[hybridRrfTopK]] (exact vector leg) for
    * the same request: the recall discipline every approximate path
    * here ships (`ann_pq_recall` for the index, `hard_negatives_pq_
    * recall` for mining, this for the fused serving list). The text
    * legs are bit-equal by the lexSearchIndex parity pin, so any
    * divergence is the PQ approximation propagated THROUGH the
    * fusion — the number that tells a deployment whether the serve
    * trade-off survives rank fusion. */
  def hybridServeRecall(spark: SparkSession, lexDir: String,
                        pqDir: String, docs: DataFrame,
                        corpus: DataFrame, terms: Seq[String],
                        queryVecId: Long, k: Int, depth: Int = 20,
                        nBuckets: Int = 64, nProbe: Int = 4,
                        m: Int = 8, dim: Int = 64,
                        rerank: Int = 20): DataFrame = {
    val exact = hybridRrfTopK(docs, corpus, terms, queryVecId, k,
      depth).select(col("cand_id"))
    val serve = hybridServeTopK(spark, lexDir, pqDir, corpus, terms,
        queryVecId, k, depth, nBuckets = nBuckets, nProbe = nProbe,
        m = m, dim = dim, rerank = rerank)
      .select(col("cand_id"), lit(1L).as("__hit"))
    exact.join(serve, Seq("cand_id"), "left")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("__n"))
      .select(col("__n").cast("long").as("n_hits"),
        (col("__n").cast("double") / lit(k).cast("double"))
          .as("recall_at_k"))
  }

  /** DuckDB twin of [[hybridServeRecall]] — both hybrid oracles as
    * derived tables, left-joined. */
  def hybridServeRecallOracleSql(dim: Int, terms: Seq[String], k: Int,
                                 depth: Int = 20,
                                 nCentroids: Int = 16, nProbe: Int = 4,
                                 m: Int = 8, ksub: Int = 16,
                                 rerank: Int = 20): String =
    s"""
    |SELECT CAST(count(s.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(s.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM (SELECT cand_id FROM (${hybridRrfTopKOracleSql(dim, terms,
        0L, k, depth).replace("\n", "\n|  ")})) e
    |LEFT JOIN (SELECT cand_id FROM (${hybridServeTopKOracleSql(dim,
        terms, k, depth, 60, nCentroids, nProbe, m, ksub, rerank)
      .replace("\n", "\n|  ")})) s
    |  ON s.cand_id = e.cand_id
    |""".stripMargin.trim

  /** [[hybridServeTopK]] amortized over a REQUEST BATCH — the full
    * serving shape: a batch of hybrid requests, each a term set
    * (`qTerms(query_id, term)`) plus a query vector
    * (`qVecs(vec_id, embedding)`, vec_id = query_id), answered by
    * ONE pruned postings pass ([[Lexical.lexSearchMany]] — df
    * in-plan, amortized over the batch) and ONE PQ search pass
    * (probe assignment and ADC already batch over the query
    * relation), fused per query over ≤ 2·depth rows each. The
    * per-request driver cost of the single-query form (stats hop +
    * df collect + its own postings read) amortizes across the whole
    * batch — the same economics that make [[lexSearchMany]] the
    * serving posture. */
  def hybridServeMany(spark: SparkSession, lexDir: String,
                      pqDir: String, corpus: DataFrame,
                      qTerms: DataFrame, qVecs: DataFrame, k: Int,
                      depth: Int = 20, k0: Int = 60,
                      nBuckets: Int = 64, nProbe: Int = 4, m: Int = 8,
                      dim: Int = 64, rerank: Int = 20): DataFrame = {
    require(k > 0 && depth >= k, s"need depth >= k > 0, got k=$k depth=$depth")
    val text = Lexical.lexSearchMany(spark, lexDir, qTerms, depth,
        nBuckets)
      .select(col("query_id"), col("doc_id").as("cand_id"),
        col("rank").as("text_rank"))
    val vec = ivfPqSearchPersisted(spark, pqDir, corpus, qVecs, depth,
        nProbe, m, dim, rerank)
      .select(col("query_id"), col("cand_id"),
        col("rank").as("vec_rank"))
    val fused = text.join(vec, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("text_rank", coalesce(col("text_rank"), lit(0L)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L)))
      .withColumn("rrf_fp", expr(
        s"""CASE WHEN text_rank > 0
           | THEN 1000000000 DIV (text_rank + $k0) ELSE 0 END +
           |CASE WHEN vec_rank > 0
           | THEN 1000000000 DIV (vec_rank + $k0) ELSE 0 END""".stripMargin))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_fp").desc, col("cand_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("text_rank"),
        col("vec_rank"), col("rrf_fp"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[hybridServeMany]] for literal query rows
    * (vector queries are `vec_id < nQueries`, term rows literal). */
  def hybridServeManyOracleSql(dim: Int,
                               queryRows: Seq[(Long, String)],
                               nQueries: Long, k: Int,
                               depth: Int = 20, k0: Int = 60,
                               nCentroids: Int = 16, nProbe: Int = 4,
                               m: Int = 8, ksub: Int = 16,
                               rerank: Int = 20): String =
    s"""
    |WITH ${ivfPqOracleCtes(dim, depth, "TRUE", s"vec_id < $nQueries",
        nCentroids, nProbe, m, ksub, rerank)},
    |tleg AS (
    |  SELECT query_id, cand_id, rank AS text_rank FROM (
    |    SELECT query_id, doc_id AS cand_id, rank
    |    FROM (${Lexical.lexSearchManyOracleSql(queryRows, depth)
      .replace("\n", "\n|    ")}))),
    |vleg AS (SELECT query_id, cand_id, rank AS vec_rank
    |  FROM pq_ranked WHERE rank <= $depth)
    |SELECT query_id, cand_id, text_rank, vec_rank, rrf_fp, rank FROM (
    |  SELECT query_id, cand_id, text_rank, vec_rank, rrf_fp,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY rrf_fp DESC, cand_id) AS rank
    |  FROM (
    |    SELECT COALESCE(t.query_id, v.query_id) AS query_id,
    |      COALESCE(t.cand_id, v.cand_id) AS cand_id,
    |      COALESCE(t.text_rank, 0) AS text_rank,
    |      COALESCE(v.vec_rank, 0) AS vec_rank,
    |      CAST(
    |        (CASE WHEN COALESCE(t.text_rank, 0) > 0
    |          THEN 1000000000 // (t.text_rank + $k0) ELSE 0 END) +
    |        (CASE WHEN COALESCE(v.vec_rank, 0) > 0
    |          THEN 1000000000 // (v.vec_rank + $k0) ELSE 0 END)
    |        AS BIGINT) AS rrf_fp
    |    FROM tleg t FULL OUTER JOIN vleg v
    |      ON t.query_id = v.query_id AND t.cand_id = v.cand_id))
    |WHERE rank <= $k ORDER BY query_id, rank
    |""".stripMargin.trim

  /** DuckDB oracle for [[hybridServeTopK]]: the [[ivfPqOracleCtes]]
    * PQ ranking composed with the BM25 text leg and the RRF fusion —
    * one statement adjudicating both persisted read paths. */
  def hybridServeTopKOracleSql(dim: Int, terms: Seq[String], k: Int,
                               depth: Int = 20, k0: Int = 60,
                               nCentroids: Int = 16, nProbe: Int = 4,
                               m: Int = 8, ksub: Int = 16,
                               rerank: Int = 20): String =
    s"""
    |WITH ${ivfPqOracleCtes(dim, depth, "TRUE", "vec_id < 1",
        nCentroids, nProbe, m, ksub, rerank)},
    |tleg AS (
    |  SELECT doc_id AS cand_id,
    |    row_number() OVER (ORDER BY score_fp DESC, doc_id) AS text_rank
    |  FROM (${Corpus.bm25TopKOracleSql(terms, depth)
      .replace("\n", "\n|  ")})),
    |vleg AS (SELECT cand_id, rank AS vec_rank
    |  FROM pq_ranked WHERE rank <= $depth)
    |SELECT cand_id, text_rank, vec_rank, rrf_fp, rank FROM (
    |  SELECT cand_id, text_rank, vec_rank, rrf_fp,
    |    row_number() OVER (ORDER BY rrf_fp DESC, cand_id) AS rank
    |  FROM (
    |    SELECT COALESCE(t.cand_id, v.cand_id) AS cand_id,
    |      COALESCE(t.text_rank, 0) AS text_rank,
    |      COALESCE(v.vec_rank, 0) AS vec_rank,
    |      CAST(
    |        (CASE WHEN COALESCE(t.text_rank, 0) > 0
    |          THEN 1000000000 // (t.text_rank + $k0) ELSE 0 END) +
    |        (CASE WHEN COALESCE(v.vec_rank, 0) > 0
    |          THEN 1000000000 // (v.vec_rank + $k0) ELSE 0 END)
    |        AS BIGINT) AS rrf_fp
    |    FROM tleg t FULL OUTER JOIN vleg v ON t.cand_id = v.cand_id))
    |WHERE rank <= $k ORDER BY rank
    |""".stripMargin.trim

  /** Full DuckDB oracle for [[rrfFuseTopK]] over `embeddings`. */
  def rrfFuseTopKOracleSql(dim: Int, k: Int, maxQueryId: Long,
                           depth: Int = 20, k0: Int = 60,
                           bits: Int = 8): String = {
    val levels = (1 << (bits - 1)) - 1
    val nWords = (dim + 31) / 32
    val ham = (0 until nWords).map { w =>
      s"bit_count(xor(q_s[${w + 1}], c_s[${w + 1}]))"
    }.mkString(" + ")
    s"""
    |WITH m AS (
    |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    |  FROM embeddings),
    |qq AS (
    |  SELECT vec_id, list_transform(dv,
    |    x -> CAST(round(x / (ma / $levels)) AS BIGINT)) AS qv
    |  FROM (SELECT vec_id, dv,
    |          list_max(list_transform(dv, x -> abs(x))) AS ma FROM m)
    |  WHERE ma > 0),
    |q8 AS (SELECT vec_id AS query_id, qv AS q_q FROM qq
    |       WHERE vec_id < $maxQueryId),
    |c8 AS (SELECT vec_id AS cand_id, qv AS c_q FROM qq),
    |i_scored AS (
    |  SELECT query_id, cand_id,
    |    list_reduce(list_prepend(CAST(0 AS BIGINT),
    |      list_transform(range($dim), i -> q_q[i + 1] * c_q[i + 1])),
    |      (acc, x) -> acc + x) AS score
    |  FROM c8, q8 WHERE query_id <> cand_id),
    |int_leg AS (
    |  SELECT query_id, cand_id, rank FROM (
    |    SELECT query_id, cand_id,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY score DESC, cand_id) AS rank
    |    FROM i_scored) WHERE rank <= $depth),
    |sig AS (
    |  SELECT vec_id, ${signPackSql("embedding", dim)} AS s
    |  FROM embeddings),
    |qs AS (SELECT vec_id AS query_id, s AS q_s FROM sig
    |       WHERE vec_id < $maxQueryId),
    |cs AS (SELECT vec_id AS cand_id, s AS c_s FROM sig),
    |sign_leg AS (
    |  SELECT query_id, cand_id, srank FROM (
    |    SELECT query_id, cand_id,
    |      row_number() OVER (PARTITION BY query_id
    |        ORDER BY CAST($ham AS BIGINT), cand_id) AS srank
    |    FROM cs, qs WHERE query_id <> cand_id) WHERE srank <= $depth),
    |fused AS (
    |  SELECT coalesce(i.query_id, s.query_id) AS query_id,
    |    coalesce(i.cand_id, s.cand_id) AS cand_id,
    |    CAST(coalesce(i.rank, 0) AS BIGINT) AS int8_rank,
    |    CAST(coalesce(s.srank, 0) AS BIGINT) AS sign_rank,
    |    CAST(CASE WHEN i.rank IS NOT NULL
    |           THEN 1000000000 // (i.rank + $k0) ELSE 0 END +
    |         CASE WHEN s.srank IS NOT NULL
    |           THEN 1000000000 // (s.srank + $k0) ELSE 0 END
    |      AS BIGINT) AS rrf_fp
    |  FROM int_leg i FULL OUTER JOIN sign_leg s
    |    ON i.query_id = s.query_id AND i.cand_id = s.cand_id)
    |SELECT query_id, cand_id, int8_rank, sign_rank, rrf_fp,
    |  CAST(rank AS BIGINT) AS rank
    |FROM (
    |  SELECT *, row_number() OVER (PARTITION BY query_id
    |    ORDER BY rrf_fp DESC, cand_id) AS rank
    |  FROM fused)
    |WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  /** recall@k of the fused ranking vs the exact decimal cosine scan —
    * the [[binaryRecall]] twin for the RRF ensemble. RRF guarantees
    * robustness to either leg's misrankings, not dominance over the
    * stronger leg, so the pinned invariant (RrfPageRankSpec) is the
    * honest one: fused recall is never below the WEAKER leg's. */
  def rrfRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                dim: Int, depth: Int = 20, k0: Int = 60,
                bits: Int = 8): DataFrame =
    recallVsExact(corpus, queries, k,
      rrfFuseTopK(corpus, queries, k, dim, depth, k0, bits))

  /** DuckDB twin of [[rrfRecall]]. */
  def rrfRecallOracleSql(dim: Int, k: Int, maxQueryId: Long,
                         depth: Int = 20, k0: Int = 60,
                         bits: Int = 8): String = {
    def cos(a: String, b: String): String =
      s"CAST(${dotSql(a, b, dim)} AS DOUBLE) /" +
        s" (sqrt(CAST(${dotSql(a, a, dim)} AS DOUBLE)) *" +
        s" sqrt(CAST(${dotSql(b, b, dim)} AS DOUBLE)))"
    val fusedSql = rrfFuseTopKOracleSql(dim, k, maxQueryId, depth, k0, bits)
    s"""
    |WITH q0 AS (SELECT vec_id AS query_id, embedding AS q_emb
    |            FROM embeddings WHERE vec_id < $maxQueryId),
    |c0 AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
    |ex_ranked AS (
    |  SELECT query_id, cand_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY ${cos("q_emb", "c_emb")} DESC, cand_id) AS rank
    |  FROM c0, q0 WHERE query_id <> cand_id),
    |exact AS (SELECT query_id, cand_id FROM ex_ranked WHERE rank <= $k),
    |fused AS (SELECT query_id, cand_id FROM ($fusedSql))
    |SELECT e.query_id,
    |  CAST(count(f.cand_id) AS BIGINT) AS n_hits,
    |  CAST(count(f.cand_id) AS DOUBLE) / $k AS recall_at_k
    |FROM exact e LEFT JOIN fused f
    |  ON e.query_id = f.query_id AND e.cand_id = f.cand_id
    |GROUP BY e.query_id
    |ORDER BY e.query_id
    |""".stripMargin.trim
  }

  /** Per-dimension moment audit of the embedding table: n, mean and
    * a variance proxy for every dimension, in exact integers after
    * the standard 1e4 quantization — the "is this embedding space
    * healthy" check (dead dims ≈ zero variance from a collapsed
    * encoder or a padding bug; one runaway dim dominating the norm
    * breaks cosine ranking). var_x1e8 = (n·Σq² − (Σq)²) div n² is
    * the population variance in quantized units², folded in
    * decimal(38,0) (n·Σq² passes 10³⁰ at corpus scale — a long
    * wraps). One posexplode + one dim-keyed hash agg (map-side
    * combined); output is |dims| rows at any corpus size. */
  def dimStats(emb: DataFrame, vec: Column): DataFrame =
    emb.select(posexplode(transform(vec, v => v.cast("double")))
        .as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"),
        expr("cast(round(v * 10000) as bigint)").as("q"))
      .groupBy("pos")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q").cast("decimal(38,0)")).as("__s"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("__s2"))
      .select(col("pos"), col("n"),
        // Σq can be negative: Spark's `div` truncates toward zero,
        // DuckDB's `//` floors — divide magnitudes, reapply the sign
        expr("cast(case when __s < 0 then -((-__s) div n) " +
          "else __s div n end as long)").as("mean_q"),
        expr("cast((n * __s2 - __s * __s) div (cast(n as decimal(38,0)) " +
          "* n) as long)").as("var_x1e8"))
      .orderBy("pos")

  /** DuckDB twin of [[dimStats]] over `embeddings`. */
  val dimStatsOracleSql: String =
    """
    |WITH q AS (
    |  SELECT i AS pos,
    |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 10000) AS BIGINT)
    |      AS q
    |  FROM (SELECT embedding, unnest(range(len(embedding))) AS i
    |        FROM embeddings)),
    |a AS (
    |  SELECT pos, count(*) AS n,
    |    sum(CAST(q AS HUGEINT)) AS s,
    |    sum(CAST(q AS HUGEINT) * q) AS s2
    |  FROM q GROUP BY pos)
    |SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
    |  CAST(CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS BIGINT)
    |    AS mean_q,
    |  CAST((n * s2 - s * s) // (CAST(n AS HUGEINT) * n) AS BIGINT)
    |    AS var_x1e8
    |FROM a ORDER BY pos
    |""".stripMargin.trim
}
