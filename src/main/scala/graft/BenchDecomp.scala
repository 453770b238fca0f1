package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, FuzzyJoin, Similarity, Corpus}
import graft.schema.Tables

/** Build/search decomposition for the queries whose ORACLE CONTRACT
  * forces an index rebuild inside the declared query (the DuckDB twin
  * must be able to replay codebook → encode → search from the raw
  * tables, so the Spark side re-derives the index on every run too).
  * The bench wall for these therefore overstates the steady-state
  * operator by the build leg — a production deployment materializes
  * the index once at ingest and pays only the search leg per batch.
  *
  * [[legs]] maps each such query to its BUILD-leg thunk: the
  * index-side computation alone, forced with the same count()-style
  * action the bench uses. `Bench` times it separately and reports
  * `{build_s, search_s (= total − build, floored at 0), total_s}`
  * per query in bench_result.json. The build thunks reuse the exact
  * library functions the declared query calls (same plans, same
  * configs) — not re-implementations:
  *
  *  - `ann_ivf_pq` / `ann_pq_incremental`: the materialized index
  *    relation itself ([[Similarity.ivfPqIndex]] — sample codebooks,
  *    coarse cell assignment and the m·ksub PQ-encode argmin, the
  *    exact fragment the declared query derives in-query).
  *  - `cdc_incremental`: chunk + distinct the settled index side
  *    ([[Dedup.cdcChunks]] — what production persists bucketed by h).
  *  - `dsir_incremental`: fit the LLR table on the settled side
  *    ([[Corpus.dsirFitLlr]] — the model production persists).
  *  - `edit_neardup_incremental`: the pigeonhole segment relation of
  *    the settled side ([[FuzzyJoin.segments]] — what production
  *    persists bucketed by segment).
  */
object BenchDecomp {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.src(s, d, "documents")
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.src(s, d, "embeddings")

  /** query name → build-leg thunk (returns a row count / scalar to
    * prove the action ran). Parameters mirror the declared queries
    * in [[Queries.all]] exactly. */
  val legs: Map[String, (SparkSession, String) => Long] = Map(
    "ann_ivf_pq" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfPqIndex(e,
        Similarity.pqSampleCodebooks(e, 8, 16, 8), 16, 8, 64).count()
    }),
    "ann_pq_incremental" -> ((s, d) => {
      val idx = emb(s, d).filter(col("vec_id") < 400)
      Similarity.ivfPqIndex(idx,
        Similarity.pqSampleCodebooks(idx, 8, 16, 8), 16, 8, 64).count()
    }),
    "cdc_incremental" -> ((s, d) => {
      val idx = docs(s, d).filter(col("doc_id") < 400)
      Dedup.cdcChunks(idx, col("doc_id"), col("text"), 4, 8)
        .select(col("h"), col("chunk")).distinct().count()
    }),
    "dsir_incremental" -> ((s, d) => {
      Corpus.dsirFitLlr(docs(s, d).filter(col("doc_id") < 400),
        col("text"), col("lang") === "en", 64).length.toLong
    }),
    "edit_neardup_incremental" -> ((s, d) => {
      val idx = docs(s, d).filter(col("doc_id") < 400)
      FuzzyJoin.segments(
        FuzzyJoin.prep(idx, col("doc_id"), col("text"), 40), 3).count()
    })
  )

  /** Decomposition for PERSISTED-index queries, where the semantics
    * INVERT: the declared query's steady-state time (min-of-N with
    * the index already on disk) IS the search leg, and the build is
    * the one-time ingest cost paid outside the per-query loop. The
    * thunk here times that one-time build+write into a fresh bench
    * scratch dir (never the declared query's cached index, which must
    * stay warm so the declared timing stays search-only). Bench
    * reports `{build_s (thunk), search_s (= declared total),
    * total_s (= build + search)}` — the "first query pays build,
    * every later query pays search" ledger of a real deployment. */
  val persistedLegs: Map[String, (SparkSession, String) => Long] = Map(
    "link_predict_approx_persisted" ->
      freshBuild("lineitem", Queries.writeLinkApproxIndex),
    "ann_pq_persisted" -> freshBuild("embeddings", Queries.writePqIndex),
    "bm25_persisted" -> freshBuild("documents", Queries.writeLexIndex)
  )

  /** One build+write of the index `write` makes from fixture `table`,
    * into a fresh scratch dir that is deleted afterwards: the thunk
    * runs 2-3 times per bench (warmup + trials), and without cleanup
    * every run would leave a full index copy in the temp dir. */
  private def freshBuild(table: String, write: (DataFrame, String) => Unit)
      : (SparkSession, String) => Long = (s, d) => {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-bench-$table").toString
    try {
      write(Tables.src(s, d, table), dir)
      1L
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
