package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** IVF-PQ: subspace kernel exactness, index shape, recall, and the
  * Lloyd-training objective (trained codebooks must beat the sample
  * init they start from). */
class PqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private val dim = 64

  test("dotSub kernel equals the HOF dot over a sliced array") {
    // the ranged kernel on full vectors must match the plain decimal
    // dot on materialized slices, subspace by subspace
    val m = 8; val subLen = dim / m
    val pairs = emb.limit(10).select(col("embedding").as("a"))
      .crossJoin(emb.limit(3).select(col("embedding").as("b")))
    for (j <- Seq(0, 3, 7)) {
      val rows = pairs.select(
        Similarity.dotSub(col("a"), col("b"), lit(j), subLen).as("ranged"),
        Similarity.dotHof(slice(col("a"), j * subLen + 1, subLen),
          slice(col("b"), j * subLen + 1, subLen)).as("sliced")).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getDecimal(0) == r.getDecimal(1),
        s"dotSub drifted at sub $j: ${r.getDecimal(0)} vs ${r.getDecimal(1)}"))
    }
  }

  test("subspace dots tile the full dot (sum over m subspaces)") {
    val m = 8; val subLen = dim / m
    val rows = emb.limit(10).select(col("embedding").as("a"))
      .crossJoin(emb.limit(3).select(col("embedding").as("b")))
      .select(Similarity.dot(col("a"), col("b")).as("full"),
        (0 until m).map(j =>
          Similarity.dotSub(col("a"), col("b"), lit(j), subLen))
          .reduce(_ + _).as("tiled")).collect()
    rows.foreach { r =>
      assert(r.getDecimal(0).compareTo(r.getDecimal(1)) == 0,
        s"subspace tiling drifted: ${r.getDecimal(0)} vs ${r.getDecimal(1)}")
    }
  }

  test("ivfPqTopK returns k exact-ranked survivors per query") {
    val out = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), 3,
      nCentroids = 8, nProbe = 3, m = 8, ksub = 8, dim = dim, rerank = 10)
      .collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 5)
    byQuery.foreach { case (q, rows) =>
      val ranked = rows.sortBy(_.getAs[Long]("rank"))
      assert(ranked.map(_.getAs[Long]("rank")).toSeq == (1L to 3L))
      assert(ranked.forall(_.getLong(1) != q), "self must be excluded")
      val cos = ranked.map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        "re-rank must order by exact cosine")
    }
  }

  test("full-probe IVF-PQ with rerank=corpus recovers the exact top-k") {
    // probing every cell and re-ranking every ADC candidate removes
    // both approximations — the PQ path must then equal brute force
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, 3)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pq = Similarity.ivfPqTopK(emb, queries, 3,
      nCentroids = 8, nProbe = 8, m = 8, ksub = 8, dim = dim, rerank = n)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == exact)
  }

  test("pqRecall reports full recall for the exhaustive configuration") {
    val n = emb.count().toInt
    val rec = Similarity.pqRecall(emb, emb.filter(col("vec_id") < 5), 3,
      nCentroids = 8, nProbe = 8, m = 8, ksub = 8, dim = dim, rerank = n)
      .collect()
    assert(rec.length == 5)
    rec.foreach(r => assert(r.getAs[Double]("recall_at_k") == 1.0))
  }

  test("residualize: BigInt driver twin, and the projection of a " +
      "direction onto itself is (near-)zero") {
    import spark.implicits._
    val ext = graft.ext.Pca
    val cov = ext.covariance(emb, col("vec_id"), col("embedding"), dim)
    val v1 = ext.collectVec(ext.powerIteration(cov, dim, 8))
    val v2 = ext.collectVec(ext.powerIteration2(cov, dim, 8))
    val got = ext.residualize(emb, col("vec_id"), col("embedding"),
        v1, v2)
      .orderBy("vec_id").as[(Long, Array[Float])].collect()
    // driver twin in BigInt of the exact chain, one vector
    val x = emb.orderBy("vec_id").select("embedding")
      .as[Array[Float]].head()
    val xq = x.map(v => BigInt(math.round(v.toDouble * 1000000L)))
    def coefOf(v: Array[Long]): BigInt = {
      val d = xq.zip(v).map { case (a, b) => a * b }.sum
      val vv = v.map(b => BigInt(b) * b).sum
      d * 1000000L / vv
    }
    val c1 = coefOf(v1); val c2 = coefOf(v2)
    val want = xq.indices.map { i =>
      val r = xq(i) - c1 * v1(i) / 1000000L - c2 * v2(i) / 1000000L
      (r.toDouble / 1e6).toFloat
    }
    assert(got.head._2.toSeq == want, "driver twin drift on vec 0")
    // residual of the residual corpus has (near-)zero projection on
    // v1: re-derive the coefficient over all residual rows — bounded
    // by truncation ULPs (each step truncates at 1e-6)
    got.foreach { case (id, r) =>
      val rq = r.map(v => BigInt(math.round(v.toDouble * 1000000L)))
      val d1 = rq.zip(v1).map { case (a, b) => a * b }.sum
      val vv1 = v1.map(b => BigInt(b) * b).sum
      val c = (d1 * 1000000L / vv1).abs
      assert(c <= 200L, s"vec $id kept projection $c on v1")
    }
  }

  test("decorrelated PQ helps on a planted dominant direction and " +
      "matches plain PQ's output CONTRACT") {
    // anisotropic synthetic corpus (the SynthGen planted-direction
    // shape, inline): a strong alternating-sign common axis on top
    // of small per-vector noise
    import spark.implicits._
    val n = 400
    val rows = (0 until n).map { i =>
      val t = ((i * 37 % 101) - 50) / 50.0 * 2.5
      val v = Array.tabulate(dim) { j =>
        val noise = (((i * 13 + j * 7) % 19) - 9) / 18.0
        val g = if (j % 2 == 0) 1.0 else -1.0
        (noise + t * g).toFloat
      }
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    val queries = df.filter(col("vec_id") < 20)
    def meanRecall(r: org.apache.spark.sql.DataFrame): Double =
      r.agg(avg(col("recall_at_k"))).collect()(0).getDouble(0)
    val plain = meanRecall(Similarity.pqRecall(df, queries, 5,
      nCentroids = 16, nProbe = 2, m = 8, ksub = 16, dim = dim,
      rerank = 10))
    val dec = meanRecall(Similarity.pqDecorrelatedRecall(df, queries, 5,
      nCentroids = 16, nProbe = 2, m = 8, ksub = 16, dim = dim,
      rerank = 10, iters = 8))
    assert(dec > plain,
      s"decorrelation did not help on the planted corpus: $dec vs $plain")
    // contract parity: same schema, same per-query row count, ranks
    // 1..k — a drop-in swap of the index
    val out = Similarity.ivfPqTopKDecorrelatedAuto(df, queries, 5,
      nCentroids = 16, nProbe = 2, m = 8, ksub = 16, dim = dim,
      rerank = 10, iters = 8)
    assert(out.columns.toSeq ==
      Seq("query_id", "cand_id", "cos", "rank"))
    val perQ = out.groupBy("query_id").count().collect()
    assert(perQ.forall(_.getLong(1) == 5L))
  }

  test("incremental PQ ingest: batch probes the index, never itself") {
    val index = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    val out = Similarity.ivfPqTopK(index, batch, 3,
      nCentroids = 8, nProbe = 3, m = 8, ksub = 8, dim = dim, rerank = 10)
      .collect()
    assert(out.nonEmpty)
    // every query is a batch vector; every candidate an index vector
    assert(out.forall(_.getLong(0) >= 300), "index ids leaked as queries")
    assert(out.forall(_.getLong(1) < 300), "batch ids leaked as candidates")
  }

  test("Lloyd-trained codebooks reduce total quantization error") {
    val m = 8; val ksub = 8; val subLen = dim / m
    val sample = Similarity.pqSampleCodebooks(emb, m, ksub, subLen)
    val trained = Similarity.pqTrainCodebooks(emb, m, ksub, dim, iters = 5)
    assert(trained.count() == m.toLong * ksub)
    val e0 = Similarity.pqQuantizationError(emb, sample, m, dim)
    val e1 = Similarity.pqQuantizationError(emb, trained, m, dim)
    assert(e1.compareTo(e0) < 0,
      s"training must strictly reduce the PQ objective: $e1 !< $e0")
    // and the trained codebooks drop into the search path unchanged
    val out = Similarity.ivfPqTopKWith(emb, emb.filter(col("vec_id") < 3),
      trained, 3, nCentroids = 8, nProbe = 3, m = m, dim = dim, rerank = 10)
      .collect()
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 3))
  }

  test("Lloyd beats the sample init at the production width (ksub=256)") {
    // the deployment dial SCALE.md §18 names: m=8 x ksub=256 (one
    // byte per code). Same objective guarantee must hold at this
    // width — SCALE.md §34 measured the same pair at SynthGen x100.
    val m = 8; val ksub = 256
    val sample = Similarity.pqSampleCodebooks(emb, m, ksub, dim / m)
    val trained = Similarity.pqTrainCodebooks(emb, m, ksub, dim, iters = 2)
    assert(trained.count() == m.toLong * ksub)
    val e0 = Similarity.pqQuantizationError(emb, sample, m, dim)
    val e1 = Similarity.pqQuantizationError(emb, trained, m, dim)
    assert(e1.compareTo(e0) < 0,
      s"training must reduce the PQ objective at ksub=256: $e1 !< $e0")
    // and recall under the trained books is computable via the same
    // search legs (pqRecallWith — the dial-audit face)
    val rec = Similarity.pqRecallWith(emb, emb.filter(col("vec_id") < 3),
      trained, 3, nCentroids = 8, nProbe = 3, m = m, dim = dim, rerank = 10)
      .collect()
    assert(rec.length == 3)
    rec.foreach(r => assert(r.getAs[Double]("recall_at_k") >= 0.0))
  }

  test("pqDriftAudit: zero-error base yields the NULL drift sentinel " +
    "on both engines' formulations") {
    // base slice == the codewords themselves (splitId = ksub): every
    // base vector quantizes to itself exactly, err_base_pico = 0 and
    // the ratio is undefined — the declared sentinel is NULL, not a
    // Spark-nulls-while-DuckDB-raises divergence
    val m = 8; val ksub = 16
    val cw = Similarity.pqSampleCodebooks(emb, m, ksub, dim / m)
    val row = Similarity.pqDriftAudit(emb, cw, m, dim, splitId = ksub)
      .collect().head
    assert(row.getAs[Long]("err_base_pico") == 0L,
      "base-equals-codebook fixture must quantize exactly")
    assert(row.getAs[Long]("n_new") > 0)
    assert(row.isNullAt(row.fieldIndex("drift_ppm")),
      "zero-error base must produce the NULL sentinel")
    // and the declared fixture (splitId past the codebook cut) still
    // produces a defined ratio — the guard is inert off the edge
    val ok = Similarity.pqDriftAudit(emb, cw, m, dim, splitId = 400L)
      .collect().head
    assert(!ok.isNullAt(ok.fieldIndex("drift_ppm")),
      "declared fixture must keep a defined drift_ppm")
  }
}
