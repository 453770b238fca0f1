package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.schema.Tables

/** Persisted INVERTED INDEX for lexical (BM25) retrieval — the third
  * member of the build-once/search-many index family, beside the
  * IVF-PQ vector index ([[Similarity.ivfPqWriteIndex]]) and the LSH
  * link index ([[Graph.linkApproxWriteIndex]]). Sparse lexical
  * retrieval at 100 TB is inverted-index-shaped for the same reason
  * as dense retrieval is index-shaped — re-scoring
  * the whole corpus per query ([[Corpus.bm25TopK]]'s one-pass form)
  * is a batch posture, while a search service pays |postings of the
  * query's terms|, not |corpus|.
  *
  * Layout under `dir`:
  *  - `stats/` — one row (seg, n_docs, toks): the corpus-level
  *    sufficient statistics of BM25's length norm (the reader sums
  *    the table's rows).
  *  - `postings/` — (term, doc_id, tf, doc_len) hive-PARTITIONED BY
  *    `bucket` = polyHash(term) mod nBuckets. A query's terms prune
  *    to ≤ |terms| bucket directories (partition pruning on literal
  *    buckets computed driver-side — [[Hashing.polyHash]] and its
  *    Scala twin below fold the same arithmetic, HashingSpec-grade
  *    portability). `doc_len` is denormalized onto each posting row:
  *    one long per posting buys the length norm without a doc-table
  *    join on the search path. Document frequency is NOT stored —
  *    it is exact at read as `count(*)` per term over the pruned
  *    postings.
  *
  * Write order is crash-honest (the ivfPqWriteIndex rule): postings
  * are written LAST and their `_SUCCESS` marker gates
  * [[lexIndexExists]]; a crash mid-build leaves no marker and the
  * next caller rebuilds.
  *
  * Search ([[lexSearchIndex]]) reproduces [[Corpus.bm25TopK]]'s
  * integer fixed-point scoring EXACTLY (same idf image, same
  * saturated-tf ppm, same k1=6/5 b=3/4), so the persisted path is
  * parity-pinned against the one-pass form row-for-row — with the
  * one declared semantic difference of every inverted index: only
  * documents matching ≥1 query term are rankable. The driver-side
  * state is |terms| df values and two stats sums — codebook-class.
  */
object Lexical {

  /** Scala twin of [[Hashing.polyHash]] for ASCII literals (query
    * terms, driver-side bucket pruning). */
  private[graft] def polyHashLocal(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % Hashing.P)

  private def bucketOf(term: String, nBuckets: Int): Int =
    (polyHashLocal(term) % nBuckets).toInt

  /** True iff a complete build exists (postings are written last). */
  def lexIndexExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/postings/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Postings rows of a doc batch: (term, doc_id, tf, doc_len,
    * bucket). Tokenization is the bm25TopK twin: split on single
    * space, empty tokens kept (never queried, keeps doc_len and the
    * stats identical to the one-pass form). */
  private def postingsOf(docs: DataFrame, id: Column, text: Column,
                         nBuckets: Int): DataFrame =
    docs.select(id.as("doc_id"), split(text, " ").as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("doc_len"),
        explode(col("__w")).as("term"))
      .groupBy(col("doc_id"), col("doc_len"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        (Hashing.polyHash(col("term")) % nBuckets).cast("int"))

  private def statsOf(docs: DataFrame, id: Column, text: Column,
                      seg: Long): DataFrame =
    docs.select(id.as("doc_id"), split(text, " ").as("__w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__w")).cast("long")).as("toks"))
      .select(lit(seg).as("seg"), col("n_docs"),
        coalesce(col("toks"), lit(0L)).as("toks"))

  /** Full build into `dir` (callers wanting atomic publish wrap in
    * the fingerprinted publisher, as the registered query does). */
  def lexWriteIndex(docs: DataFrame, id: Column, text: Column,
                    dir: String, nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    // rebuild honesty: drop the completion marker BEFORE overwriting
    // stats, so a crash between the two overwrites can't leave fresh
    // stats paired with stale "complete" postings
    val marker = new org.apache.hadoop.fs.Path(s"$dir/postings/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    statsOf(docs, id, text, seg = 0L)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    postingsOf(docs, id, text, nBuckets)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
  }

  /** BM25 top-k over the persisted index — [[Corpus.bm25TopK]]'s
    * exact integer scoring, paying |postings of the query terms|:
    * bucket-pruned scan, live-exact df, two driver sums. Only docs
    * matching ≥1 term are rankable (inverted-index semantics). */
  def lexSearchIndex(spark: SparkSession, dir: String,
                     terms: Seq[String], k: Int,
                     nBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty && k > 0 && terms.distinct.size == terms.size)
    val st = Tables.read(spark, s"$dir/stats")
      .agg(sum(col("n_docs")).as("n"), sum(col("toks")).as("t"))
      .collect()(0)
    val nDocs = st.getAs[Long]("n")
    val avgLenPpm = math.max(1L,
      st.getAs[Long]("t") * 1000000L / math.max(1L, nDocs))
    val buckets = terms.map(bucketOf(_, nBuckets)).distinct
    val post = Tables.read(spark, s"$dir/postings")
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .filter(col("term").isin(terms: _*))
    // df live from the pruned postings: |terms| longs to the driver
    val dfMap = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L)
      t -> (2 * nDocs - 2 * df + 1) * 1000L / (2 * df + 1)
    }
    import spark.implicits._
    val idfDf = idf.toDF("term", "__idf")
    post
      .withColumn("__norm", lit(250000L) +
        expr(s"(cast(750000 as bigint) * doc_len * 1000000) " +
          s"div $avgLenPpm"))
      .withColumn("__sat",
        expr("(11 * tf * 1000000000000) div " +
          "(5 * tf * 1000000 + 6 * __norm)"))
      .join(broadcast(idfDf), "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("__idf") * col("__sat")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc).limit(k)
  }

  /** BATCH search — [[lexSearchIndex]] amortized over a query
    * relation `(query_id, term)`: ONE pruned postings pass serves the
    * whole batch, the serving posture at scale (per-query calls pay
    * the stats hop and a postings read each; here both amortize).
    * Differences from the single-query form, both in the batch's
    * favor:
    *  - df comes back IN-PLAN (one keyed agg joined to the scoring
    *    branch) instead of a driver collect — the driver holds only
    *    the distinct-term list (codebook-class for a bounded request
    *    batch, the declared contract) for bucket pruning;
    *  - one window ranks all queries (partitioned per query_id).
    * Scoring arithmetic is bit-identical to [[lexSearchIndex]] /
    * [[Corpus.bm25TopK]] (same idf image, same saturated-tf ppm), so
    * for a single-query batch the two forms agree row-for-row
    * (LexicalIndexSpec pins it). Output:
    * `(query_id, doc_id, score_fp, rank)`, rank ≤ k per query. */
  def lexSearchMany(spark: SparkSession, dir: String,
                    queries: DataFrame, k: Int,
                    nBuckets: Int = 64): DataFrame = {
    require(k > 0)
    val st = Tables.read(spark, s"$dir/stats")
      .agg(sum(col("n_docs")).as("n"), sum(col("toks")).as("t"))
      .collect()(0)
    val nDocs = st.getAs[Long]("n")
    val avgLenPpm = math.max(1L,
      st.getAs[Long]("t") * 1000000L / math.max(1L, nDocs))
    val q = queries.select(col("query_id"), col("term")).distinct()
    // the distinct term list is the only driver state (bounded batch
    // contract): it prunes the postings read to ≤ |terms| buckets
    val terms = q.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "lexSearchMany: empty query batch")
    val buckets = terms.map(bucketOf(_, nBuckets)).distinct
    val post = Tables.read(spark, s"$dir/postings")
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .filter(col("term").isin(terms: _*))
    // df in-plan: exact live doc frequency per term, broadcast back
    // onto the same pruned pass's scoring branch
    val idf = post.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
      .withColumn("__idf",
        expr(s"(2 * ${nDocs}L - 2 * __df + 1) * 1000L DIV " +
          "(2 * __df + 1)"))
      .select(col("term"), col("__idf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    post
      .withColumn("__norm", lit(250000L) +
        expr(s"(cast(750000 as bigint) * doc_len * 1000000) " +
          s"div $avgLenPpm"))
      .withColumn("__sat",
        expr("(11 * tf * 1000000000000) div " +
          "(5 * tf * 1000000 + 6 * __norm)"))
      .join(broadcast(idf), "term")
      .join(broadcast(q), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__idf") * col("__sat")).as("score_fp"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[lexSearchMany]] for literal query rows. */
  def lexSearchManyOracleSql(queryRows: Seq[(Long, String)],
                             k: Int): String = {
    val values = queryRows
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""
    |WITH q(query_id, term) AS (VALUES $values),
    |w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
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
    |dl AS (SELECT doc_id, len(w) AS doc_len FROM w),
    |scored AS (
    |  SELECT q.query_id, tf.doc_id,
    |    CAST(sum(
    |      ((2*stats.n - 2*df.df + 1) * 1000 // (2*df.df + 1)) *
    |      ((11 * tf.tf * 1000000000000) //
    |       (5 * tf.tf * 1000000 +
    |        6 * (250000 + (750000 * dl.doc_len * 1000000)
    |             // stats.avg_ppm)))) AS BIGINT) AS score_fp
    |  FROM q
    |  JOIN tf ON tf.term = q.term
    |  JOIN df ON df.term = q.term
    |  JOIN dl ON dl.doc_id = tf.doc_id
    |  CROSS JOIN stats
    |  GROUP BY q.query_id, tf.doc_id)
    |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_fp,
    |  rank
    |FROM (
    |  SELECT query_id, doc_id, score_fp,
    |    row_number() OVER (PARTITION BY query_id
    |                       ORDER BY score_fp DESC, doc_id) AS rank
    |  FROM scored)
    |WHERE rank <= $k
    |ORDER BY query_id, rank
    |""".stripMargin.trim
  }

  /** One-row index audit: corpus stats + postings census. */
  def lexIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val post = Tables.read(spark, s"$dir/postings")
    val stats = Tables.read(spark, s"$dir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("toks")).as("toks"))
    stats.crossJoin(broadcast(
      post.agg(count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms"))))
      .select(col("n_docs"), col("toks"), col("n_terms"),
        col("n_postings"))
  }

  /** DuckDB twin of [[lexIndexStats]] straight from `documents`. */
  def lexIndexStatsOracleSql: String =
    """
    |WITH w AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    |p AS (
    |  SELECT DISTINCT doc_id, term
    |  FROM (SELECT doc_id, unnest(w) AS term FROM w))
    |SELECT
    |  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_docs,
    |  (SELECT CAST(coalesce(sum(len(w)), 0) AS BIGINT) FROM w) AS toks,
    |  (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM p) AS n_terms,
    |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_postings
    |""".stripMargin.trim
}
