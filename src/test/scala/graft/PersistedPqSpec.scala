package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Persisted IVF-PQ index (build-once / search-many): the on-disk
  * layout carries no raw floats, the persisted search leg reproduces
  * the in-query result row-for-row, the probe join prunes the
  * cell-partitioned codes scan, and reuse is gated by the completion
  * marker. */
class PersistedPqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private val dim = 64
  private val m = 8
  private val ksub = 16
  private val nCentroids = 16

  private def freshDir(): String =
    Files.createTempDirectory("pq-index-spec").toString

  private def build(dir: String): Unit =
    Similarity.ivfPqWriteIndex(emb,
      Similarity.pqSampleCodebooks(emb, m, ksub, dim / m),
      nCentroids, m, dim, dir)

  test("persisted search == in-query ivfPqTopK, row for row") {
    val dir = freshDir()
    build(dir)
    val q = emb.filter(col("vec_id") < 10)
    val persisted = Similarity.ivfPqSearchPersisted(spark, dir, emb, q,
        k = 5, nProbe = 4, m = m, dim = dim, rerank = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val inQuery = Similarity.ivfPqTopK(emb, q, 5, nCentroids,
        nProbe = 4, m = m, ksub = ksub, dim = dim, rerank = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(persisted.nonEmpty)
    assert(persisted == inQuery,
      "persisted search drifted from the in-query result")
  }

  test("codes relation on disk carries no float columns (32x claim)") {
    val dir = freshDir()
    build(dir)
    val codes = spark.read.parquet(s"$dir/codes")
    val floatish = codes.schema.fields.filter(f =>
      f.dataType.sql.toLowerCase.contains("float") ||
        f.dataType.sql.toLowerCase.contains("double"))
    assert(floatish.isEmpty,
      s"index codes leaked float columns: ${floatish.map(_.name).toSeq}")
    // exactly the (cand_id, sub, code) payload + the c_id partition col
    assert(codes.columns.sorted.toSeq ==
      Seq("c_id", "cand_id", "code", "sub"))
    // one directory per coarse cell: the unit partition pruning skips
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c_id="))
    assert(cellDirs.length > 1, "codes not partitioned by cell")
  }

  test("probe join prunes the partitioned codes scan (DPP or pushed)") {
    val dir = freshDir()
    build(dir)
    val q = emb.filter(col("vec_id") < 10)
    val plan = Similarity.ivfPqSearchPersisted(spark, dir, emb, q,
        k = 5, nProbe = 4, m = m, dim = dim, rerank = 20)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "codes scan is not dynamic-partition-pruned — the search leg " +
        "would read every cell directory instead of the probed ones")
  }

  test("reuse is gated by the completion marker; rebuild heals") {
    val dir = freshDir()
    assert(!Similarity.ivfPqIndexExists(spark, dir))
    build(dir)
    assert(Similarity.ivfPqIndexExists(spark, dir))
    // simulate a crash mid-build: marker gone -> not reusable
    new java.io.File(s"$dir/codes/_SUCCESS").delete()
    assert(!Similarity.ivfPqIndexExists(spark, dir))
    // rebuild over the partial output heals (mode=overwrite)
    build(dir)
    assert(Similarity.ivfPqIndexExists(spark, dir))
    val q = emb.filter(col("vec_id") < 3)
    assert(Similarity.ivfPqSearchPersisted(spark, dir, emb, q,
      k = 3, nProbe = 4, m = m, dim = dim, rerank = 10).count() > 0)
  }

  test("stale-sibling sweep: same fixture's old fingerprints only — " +
    "a canon that extends another with '-suffix' is not its sibling") {
    // the r10 collision: '-' is legal inside the sanitized canonical
    // path, so startsWith(canon + "-") matched fixture
    // /data/sf0.1-old's index from fixture /data/sf0.1's sweep and
    // deleted it after every publish
    val base = "_data_sf0.1-1a2b3c"
    assert(Queries.isStaleSibling(base, "_data_sf0.1-9f9f9f"),
      "older fingerprint of the same fixture must be swept")
    assert(!Queries.isStaleSibling(base, "_data_sf0.1-old-1a2b3c"),
      "a DIFFERENT fixture whose canon extends ours must survive")
    assert(!Queries.isStaleSibling(base, base),
      "the freshly published dir itself must survive")
    assert(!Queries.isStaleSibling(base, ".build-xyz"),
      "in-flight builder temp dirs must survive")
    // and the reverse direction: the longer canon's sweep must not
    // claim the shorter canon's index either
    assert(!Queries.isStaleSibling("_data_sf0.1-old-77aa", base))
  }

  test("sweep is AGE-GATED: a just-published old-fingerprint sibling " +
      "survives (a concurrent session may still be reading it); an " +
      "idle one is swept") {
    val parent = java.nio.file.Files
      .createTempDirectory("sweep-age-spec")
    val dest = parent.resolve("_data_sf0.1-aaaaaa")
    val fresh = parent.resolve("_data_sf0.1-bbbbbb")
    val idle = parent.resolve("_data_sf0.1-cccccc")
    Seq(dest, fresh, idle).foreach(java.nio.file.Files.createDirectory(_))
    assert(idle.toFile.setLastModified(
      System.currentTimeMillis - Queries.SweepAgeMs - 60000))
    Queries.sweepStaleSiblings(spark, dest)
    assert(dest.toFile.exists, "the published dir itself was swept")
    assert(fresh.toFile.exists,
      "a sibling younger than the grace period was swept — a " +
        "concurrent session on the old fingerprint loses its read")
    assert(!idle.toFile.exists,
      "an idle stale sibling survived — tmpdir leaks forever")
  }
}
