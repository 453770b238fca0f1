package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("self-cosine is 1.0 (decimal dot product is exact)") {
    val selfCos = emb.limit(20).select(
      Similarity.cosine(
        Similarity.dot(col("embedding"), col("embedding")),
        Similarity.dot(col("embedding"), col("embedding")),
        Similarity.dot(col("embedding"), col("embedding"))).as("cos"))
      .collect().map(_.getDouble(0))
    selfCos.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("brute-force topK returns k ranked neighbors per query") {
    val out = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), 3)
      .collect()
    assert(out.length == 15)
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rows) =>
      val ranked = rows.sortBy(_.getAs[Long]("rank"))
      assert(ranked.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
      // cosine non-increasing with rank
      val cos = ranked.map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("native decimal kernels are bit-identical to the HOF formulations") {
    // dot: collect both as Decimal and require exact equality
    val pairs = emb.limit(20).select(col("embedding").as("a"))
      .crossJoin(emb.limit(5).select(col("embedding").as("b")))
    val dots = pairs.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(dots.nonEmpty)
    dots.foreach(r => assert(r.getDecimal(0) == r.getDecimal(1),
      s"dot kernel drifted: ${r.getDecimal(0)} vs ${r.getDecimal(1)}"))
    // srp bucket: exact long equality across tables/offsets
    for (off <- Seq(0, 4, 12)) {
      val bks = emb.limit(50).select(
        Similarity.srpBucket(col("embedding"), 64, 4, off).as("native"),
        Similarity.srpBucketHof(col("embedding"), 64, 4, off).as("hof"))
        .collect()
      bks.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"srp kernel drifted at offset $off: ${r.getLong(0)} vs ${r.getLong(1)}"))
    }
  }

  test("codegen FloatVecDot agrees with the exact-decimal dot") {
    import graft.functions.VecMath
    val pairs = emb.limit(10).select(col("vec_id").as("i"),
        col("embedding").as("a"))
      .crossJoin(emb.limit(10).select(col("vec_id").as("j"),
        col("embedding").as("b")))
    val both = pairs.select(
      VecMath.dotF(col("a"), col("b")).as("native"),
      Similarity.dot(col("a"), col("b")).cast("double").as("exact"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (n, e) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(n - e) <= 1e-9 * math.max(1.0, math.abs(e)))
    }
  }

  test("codegen FloatVecDot null/eval paths: interpreted == codegen") {
    // interpreted eval (driver-side fold) must match the codegen'd result
    val df = emb.limit(5).select(col("embedding").as("a"))
    val viaCodegen = df.select(graft.functions.VecMath.dotF(col("a"),
      col("a")).as("d")).collect().map(_.getDouble(0))
    val viaEval = df.collect().map { r =>
      val arr = r.getSeq[Float](0)
      arr.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    }
    viaCodegen.zip(viaEval).foreach { case (c, e) =>
      assert(math.abs(c - e) <= 1e-9 * math.max(1.0, math.abs(e)))
    }
    // null input -> null output
    val n = emb.limit(1).select(graft.functions.VecMath.dotF(
      lit(null).cast("array<float>"), col("embedding")).as("d"))
      .collect()
    assert(n.head.isNullAt(0))
    // mismatched lengths and null elements -> null (mirrors the
    // aggregate(zip_with(...)) exact-decimal path, not a truncated dot)
    val mism = emb.limit(1).select(graft.functions.VecMath.dotF(
      expr("slice(embedding, 1, 8)"), col("embedding")).as("d")).collect()
    assert(mism.head.isNullAt(0))
    val nullElem = emb.limit(1).select(graft.functions.VecMath.dotF(
      expr("array(cast(1.0 as float), cast(null as float))"),
      expr("array(cast(1.0 as float), cast(1.0 as float))")).as("d"))
      .collect()
    assert(nullElem.head.isNullAt(0))
  }

  test("codegen LongVecDot: hand-computed dot, NULL on length mismatch") {
    import org.apache.spark.sql.graftext.LongVecDot
    // `id` (0) keeps the inputs non-foldable, so the generated code runs
    val r = spark.range(1).select(
      LongVecDot.dotColumn(array(col("id") + 1, lit(-2L), lit(3L)),
        typedLit(Seq(4L, 5L, 6L))),
      // length mismatch scores NULL, not a truncated dot
      LongVecDot.dotColumn(array(col("id") + 1, lit(2L)), typedLit(Seq(3L))))
      .first()
    assert(r.getLong(0) == 12L && r.isNullAt(1))
  }

  test("decimal kernels survive non-finite elements like the HOF fold") {
    val one = emb.limit(1)
    // NaN product -> NULL dot on both formulations (never an exception)
    val nan = one.select(
      Similarity.dot(expr("array(cast('NaN' as float), cast(1.0 as float))"),
        expr("array(cast(1.0 as float), cast(1.0 as float))")).as("native"),
      Similarity.dotHof(
        expr("array(cast('NaN' as float), cast(1.0 as float))"),
        expr("array(cast(1.0 as float), cast(1.0 as float))")).as("hof"))
      .collect().head
    assert(nan.isNullAt(0) && nan.isNullAt(1))
    // NaN element -> bucket 0 on both (every plane's NULL projection
    // fails >= 0, so no bit sets)
    val b = one.select(
      Similarity.srpBucket(
        expr("array(cast('NaN' as float), cast(2.0 as float))"), 2, 4)
        .as("native"),
      Similarity.srpBucketHof(
        expr("array(cast('NaN' as float), cast(2.0 as float))"), 2, 4)
        .as("hof")).collect().head
    assert(b.getLong(0) == 0L && b.getLong(1) == 0L)
  }

  test("decimal dot nulls on transient intermediate overflow like the fold") {
    // products stay under the 1e13 cast cap but the RUNNING sum
    // transiently crosses it before sign-cancelling back: the fold
    // casts every intermediate to decimal(25,12), so the dot must
    // never report the in-range final value. The kernel nulls in any
    // mode; the fold nulls under non-ANSI casts and THROWS under
    // ANSI (Spark 4 default) — pin all three behaviors.
    val a = "array(cast(3e6 as float), cast(3e6 as float), cast(3e6 as float))"
    val b = "array(cast(3e6 as float), cast(3e6 as float), cast(-3e6 as float))"
    val native = emb.limit(1).select(
      Similarity.dot(expr(a), expr(b)).as("native")).collect().head
    assert(native.isNullAt(0),
      s"kernel must null on transient overflow, got ${native.get(0)}")
    val thrown = intercept[Exception] { // ANSI fold: job-killing
      emb.limit(1).select(Similarity.dotHof(expr(a), expr(b))).collect()
    }
    assert(thrown.toString.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
      s"expected ANSI overflow error, got $thrown")
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val hof = emb.limit(1).select(
        Similarity.dotHof(expr(a), expr(b)).as("hof")).collect().head
      assert(hof.isNullAt(0), s"non-ANSI fold drift: ${hof.get(0)}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("nearDupPairs accepts thresholds at or below the prefilter band") {
    // <= 1e-3 can't use the cross-multiplied one-dot prefilter (norms
    // are non-negative); it must fall back to the float cosine, not
    // reject the input
    val all = Similarity.nearDupPairs(emb, "vec_id", "embedding",
      64, 6, 0.0).collect()
    assert(all.forall(_.getAs[Double]("cos") >= 0.0))
    val strict = Similarity.nearDupPairs(emb, "vec_id", "embedding",
      64, 6, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val loose = all.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.subsetOf(loose) && loose.size >= strict.size)
  }

  test("strict threshold finds planted near-copies, nothing else") {
    import spark.implicits._
    // 40 deterministic pseudo-random vectors + one planted near-copy
    // pair (ids 100/101): only that pair may pass cosine >= 0.7
    def mix(z0: Long): Long = { // splitmix64: decorrelates (seed, dim)
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vec(seed: Long, eps: Double): Array[Float] =
      Array.tabulate(64) { j =>
        val h = mix(seed * 64 + j)
        (((h >>> 11) % 2001L - 1000L) / 1000.0 + eps * (j % 7)).toFloat
      }
    val rows = (0L until 40L).map(i => (i, vec(i, 0.0))) ++
      Seq((100L, vec(999L, 0.0)), (101L, vec(999L, 0.001)))
    val planted = rows.toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(planted, "vec_id", "embedding",
      64, 4, 0.7, nTables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      s"strict near-dup must find exactly the planted pair, got $got")
  }

  test("ivfCosineTopK probes inverted lists and ranks correctly") {
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfCosineTopK(emb, queries, 5, 16, 4).collect()
    assert(ivf.nonEmpty)
    // per query: ranks are 1..n, cosines non-increasing
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // probing more centroids can only improve (or keep) each query's
    // best-cosine hit
    val wide = Similarity.ivfCosineTopK(emb, queries, 5, 16, 16).collect()
    val bestNarrow = ivf.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getDouble(2)).max).toMap
    val bestWide = wide.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getDouble(2)).max).toMap
    bestNarrow.foreach { case (q, c) => assert(bestWide(q) >= c) }
    // nProbe = nCentroids degenerates to exact brute force
    val exact = Similarity.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val full = wide.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(full == exact)
  }

  test("nearDupPairs: bucketed pairs are symmetric-free and thresholded") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
      64, 6, 0.3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getAs[Double]("cos") >= 0.3))
  }

  test("nearDupPairs: more hash tables strictly widens candidate recall") {
    def found(nTables: Int): Set[(Long, Long)] =
      Similarity.nearDupPairs(emb, "vec_id", "embedding", 64, 4, 0.3,
        nTables).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = found(1)
    val four = found(4)
    assert(one.subsetOf(four))
    assert(four.size >= one.size)
  }

  test("cellNearDupPairs: pairs are symmetric-free, thresholded, emitted once") {
    val pairs = Similarity.cellNearDupPairs(emb, "vec_id", "embedding",
      64, 16, 0.3, nProbe = 2).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getAs[Double]("cos") >= 0.3))
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length,
      "a pair sharing two cells must be emitted at exactly one of them")
  }

  test("cellNearDupPairs: probing a second cell widens candidate recall") {
    def found(nProbe: Int): Set[(Long, Long)] =
      Similarity.cellNearDupPairs(emb, "vec_id", "embedding", 64, 16,
        0.3, nProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = found(1)
    val two = found(2)
    assert(one.subsetOf(two))
    assert(two.size >= one.size)
  }

  test("cell partition finds planted near-copies, nothing else") {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vec(seed: Long, eps: Double): Array[Float] =
      Array.tabulate(64) { j =>
        val h = mix(seed * 64 + j)
        (((h >>> 11) % 2001L - 1000L) / 1000.0 + eps * (j % 7)).toFloat
      }
    val rows = (0L until 40L).map(i => (i, vec(i, 0.0))) ++
      Seq((100L, vec(999L, 0.0)), (101L, vec(999L, 0.001)))
    val planted = rows.toDF("vec_id", "embedding")
    val got = Similarity.cellNearDupPairs(planted, "vec_id", "embedding",
      64, 16, 0.7, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      s"cell near-dup must find exactly the planted pair, got $got")
  }

  test("hier cell path with all supers probed equals the flat cell path") {
    // sProbe = nSuper means every super is probed, so the candidate
    // children are ALL cells — the two-level path must then reproduce
    // the flat assignment (and hence the flat pair set) exactly
    val flat = Similarity.cellNearDupPairs(emb, "vec_id", "embedding",
      64, 16, 0.3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))).toSet
    val hier = Similarity.cellNearDupPairsHier(emb, "vec_id", "embedding",
      64, 16, 4, 0.3, nProbe = 2, sProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))).toSet
    assert(hier == flat)
  }

  test("hier cell partition finds planted near-copies, nothing else") {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vec(seed: Long, eps: Double): Array[Float] =
      Array.tabulate(64) { j =>
        val h = mix(seed * 64 + j)
        (((h >>> 11) % 2001L - 1000L) / 1000.0 + eps * (j % 7)).toFloat
      }
    val rows = (0L until 40L).map(i => (i, vec(i, 0.0))) ++
      Seq((100L, vec(999L, 0.0)), (101L, vec(999L, 0.001)))
    val planted = rows.toDF("vec_id", "embedding")
    val got = Similarity.cellNearDupPairsHier(planted, "vec_id",
      "embedding", 64, 16, 4, 0.7, nProbe = 2, sProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      s"hier cell near-dup must find exactly the planted pair, got $got")
  }

  test("incremental cell path equals flat pairs restricted to cross-split") {
    // split above nCells so both paths derive the identical codebook;
    // flat emits d1 < d2, so cross-split pairs are exactly d1 < split <= d2
    val split = 1000L
    val flat = Similarity.cellNearDupPairs(emb, "vec_id", "embedding",
      64, 16, 0.3, nProbe = 2).collect()
      .filter(r => r.getLong(0) < split && r.getLong(1) >= split)
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))).toSet
    val inc = Similarity.cellNearDupIncremental(
      emb.filter(col("vec_id") < split),
      emb.filter(col("vec_id") >= split),
      "vec_id", "embedding", 64, 16, 0.3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))).toSet
    assert(inc == flat)
  }

  test("nativeCosineTopK matches decimal cosineTopK ranking") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, q, 3).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("rank")) -> r.getLong(1)).toMap
    val native = Similarity.nativeCosineTopK(emb, q, 3).collect()
    assert(native.length == exact.size)
    // float-sum vs decimal-sum can only reorder near-exact ties; on
    // this fixture the rankings must agree
    native.foreach { r =>
      assert(exact((r.getLong(0), r.getAs[Long]("rank"))) == r.getLong(1))
    }
  }

  test("quantizeStats: hand-computed int8 audit on crafted vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 0f, 0f)),          // zero vector -> no row
      (3L, Array(-2.0f, 1.0f, 0.5f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeStats(df, col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 3L))
    val d1 = out(1L)
    assert(d1.getAs[Double]("max_abs") == 1.0)
    // q = [127, 0, 0, 0]: reconstruction is exact at the extremes
    assert(d1.getAs[Double]("max_err") == 0.0)
    assert(d1.getAs[Long]("n_zero") == 3)
    val d3 = out(3L)
    assert(d3.getAs[Double]("max_abs") == 2.0)
    // worst component: 1.0/(2/127) = 63.5 rounds (half-up) to 64 ->
    // |64·(2/127) − 1| = 1/127, exactly scale/2
    assert(math.abs(d3.getAs[Double]("max_err") - 1.0 / 127) < 1e-15)
    assert(d3.getAs[Long]("n_zero") == 1)
  }

  test("quantizeStats: error bounded by scale/2 across the fixture") {
    val stats = Similarity.quantizeStats(emb, col("vec_id"), col("embedding"))
    assert(stats.count() == emb.count(), "no zero vectors in the fixture")
    val bad = stats.filter(
      col("max_err") > col("max_abs") / 127 / 2 + lit(1e-12)).count()
    assert(bad == 0, "round-to-nearest keeps err <= scale/2")
  }

  test("SRP-LSH topK is a subset-quality approximation of brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val approx = Similarity.lshCosineTopK(emb, queries, 3, 64, 6)
    // every returned neighbor must share the query's bucket -> recall
    // may be < 1, but all results must be genuine corpus vectors with
    // valid rank ordering
    val rows = approx.collect()
    assert(rows.forall(_.getAs[Long]("rank") <= 3))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("annRecall equals a manual intersection of the two rankings") {
    val queries = emb.filter(col("vec_id") < 5)
    val k = 3
    val rec = Similarity.annRecall(emb, queries, k, 64, 6).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k"))).toMap
    assert(rec.size == 5)
    val exact = Similarity.cosineTopK(emb, queries, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosineTopK(emb, queries, k, 64, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rec.foreach { case (q, (hits, r)) =>
      val want = exact.filter(_._1 == q).count(lsh.contains)
      assert(hits == want && hits >= 0 && hits <= k)
      assert(r == hits.toDouble / k)
    }
  }

  test("kmeansUpdate partitions the corpus across centroids exactly once") {
    val cells = Similarity.kmeansUpdate(emb, 8).collect()
    val total = emb.count()
    // every position's member counts sum to the whole corpus
    cells.groupBy(_.getAs[Long]("pos")).foreach { case (pos, rows) =>
      assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
        s"pos $pos lost or double-assigned vectors")
    }
    // a centroid's count is identical at every position
    cells.groupBy(_.getLong(0)).foreach { case (c, rows) =>
      assert(rows.map(_.getAs[Long]("n_vecs")).distinct.length == 1,
        s"centroid $c has ragged member counts")
    }
  }

  test("signPack: hand-computed bits, 32 per word, sign-bit never used") {
    import spark.implicits._
    // dim=3: [+,-,+] -> bits 0 and 2 -> word0 = 5; dim=33 exercises
    // the word boundary: bit 32 lands in word 1 bit 0
    val v3 = Seq(Tuple1(Seq(1.0f, -2.0f, 0.0f))).toDF("embedding")
    val got3 = v3.select(Similarity.signPack(col("embedding"), 3))
      .collect()(0).getSeq[Long](0)
    assert(got3 == Seq(5L), s"got $got3")   // 0.0 counts as >= 0
    val v33 = Seq(Tuple1(Seq.fill(32)(-1.0f) :+ 1.0f)).toDF("embedding")
    val got33 = v33.select(Similarity.signPack(col("embedding"), 33))
      .collect()(0).getSeq[Long](0)
    assert(got33 == Seq(0L, 1L), s"got $got33")
    // fixture-wide: every word below 2^32 (sign bit untouched)
    val bad = emb.select(Similarity.signPack(col("embedding"), 64).as("s"))
      .filter(exists(col("s"), w => w < 0L || w >= (1L << 32))).count()
    assert(bad == 0)
  }

  test("binaryTopK with a full-corpus shortlist equals the exact scan") {
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    val full = Similarity.binaryTopK(emb, queries, 5, 64, shortlist = n)
      .select("query_id", "cand_id", "rank")
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "cand_id", "rank")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
  }

  test("embeddingComponents equals brute-force union-find over cell pairs") {
    // sf0.001's embeddings have no planted dups (max pairwise cosine
    // ≈ 0.48), so run the clustering at 0.4 — 66 true pairs, enough
    // to exercise transitive chains
    val comp = Similarity.embeddingComponents(emb, 64, 16, 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Similarity.cellNearDupPairs(emb, "vec_id", "embedding",
        64, 16, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain near-dup pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = emb.select("vec_id").collect().map(_.getLong(0))
      .map(d => d -> find(d)).toMap
    assert(comp == expected,
      s"missing=${expected.keySet -- comp.keySet} " +
        s"wrong=${comp.count { case (k, v) => expected.get(k) != Some(v) }}")
    // non-trivial clustering: some multi-member component exists
    assert(comp.groupBy(_._2).exists(_._2.size > 1))
  }

  test("ivfBinaryTopK probing every cell with a full shortlist = exact scan") {
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    val nCent = 8
    val full = Similarity.ivfBinaryTopK(emb, queries, 5, 64,
        nCentroids = nCent, nProbe = nCent, shortlist = n)
      .select("query_id", "cand_id", "rank")
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "cand_id", "rank")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
  }

  test("binaryRecall is bounded and the sign sketch beats chance") {
    val queries = emb.filter(col("vec_id") < 10)
    val rec = Similarity.binaryRecall(emb, queries, 5, 64).collect()
    assert(rec.length == 10)
    rec.foreach { r =>
      val v = r.getAs[Double]("recall_at_k")
      assert(v >= 0.0 && v <= 1.0)
    }
    // mean recall across queries must clear random-shortlist odds
    // (20 of ~500 candidates ≈ 4% by chance)
    val mean = rec.map(_.getAs[Double]("recall_at_k")).sum / rec.length
    assert(mean > 0.2, s"sign sketch no better than chance: $mean")
  }

  test("labelCentroids matches a driver-side fixed-point recomputation") {
    val cells = Similarity.labelCentroids(emb, col("label"),
      col("embedding")).collect()
    val raw = emb.select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val expected = raw.flatMap { case (l, v) =>
      v.zipWithIndex.map { case (x, i) =>
        // HALF_UP (away from zero), exactly Spark's round() on doubles
        // — math.round would differ on negative .5 ties
        (l, i.toLong) -> java.math.BigDecimal.valueOf(x.toDouble * 1e9)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    assert(cells.length == expected.size)
    cells.foreach { r =>
      val key = (r.getInt(0), r.getAs[Long]("pos"))
      assert(r.getAs[Long]("sum_q_e9") == expected(key),
        s"cell $key drifted")
    }
    // n_vecs is the label's row count for every position
    val byLabel = raw.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    cells.foreach(r =>
      assert(r.getAs[Long]("n_vecs") == byLabel(r.getInt(0))))
  }

  test("srpSweep: table amplification can only add found pairs " +
    "(prefix tables are candidate subsets), counts self-consistent") {
    val out = Similarity.srpSweep(emb, "vec_id", "embedding", 64, 0.4,
        Seq((4, 1), (4, 4), (8, 4))).collect()
      .map(r => (r.getAs[Long]("n_planes"), r.getAs[Long]("n_tables")) ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_found"),
          r.getAs[Long]("recall_ppm"))).toMap
    // the exact reference set is shared: identical across arms
    assert(out.values.map(_._1).toSet.size == 1)
    out.values.foreach { case (ne, nf, rp) =>
      assert(nf <= ne)
      val expect = if (ne == 0) 0L else nf * 1000000L / ne
      assert(rp == expect, s"recall_ppm drifted: $rp vs $expect")
    }
    // table 0 of the 4-table config IS the 1-table config (same
    // plane offsets), so its found set is a superset — structural
    assert(out((4L, 4L))._2 >= out((4L, 1L))._2)
  }

  test("ivfProbeSweep: recall is monotone in nProbe and the " +
    "probe-all arm is exact") {
    val nCentroids = 16
    val out = Similarity.ivfProbeSweep(emb,
        emb.filter(col("vec_id") < 5), 3, nCentroids,
        Seq(1, 4, nCentroids)).collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall_at_k")).toMap
    val queries = out.keys.map(_._2).toSet
    assert(queries.size == 5)
    queries.foreach { q =>
      val curve = Seq(1L, 4L, nCentroids.toLong).map(np => out((np, q)))
      assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
        s"recall curve not monotone for query $q: $curve")
      assert(curve.last == 1.0,
        s"probe-all must be exact for query $q, got ${curve.last}")
    }
  }

  test("hybridRrfTopK fuses exactly the two legs' rank lists") {
    import graft.ext.Corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val terms = Seq("spark", "merge", "window", "customer")
    val out = Similarity.hybridRrfTopK(docs, emb, terms, 0L, k = 10,
      depth = 20).collect()
    assert(out.length == 10)
    // rrf_fp non-increasing with rank; ranks are 1..10
    val byRank = out.sortBy(_.getAs[Long]("rank"))
    assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    val fps = byRank.map(_.getAs[Long]("rrf_fp"))
    fps.zip(fps.tail).foreach { case (a, b) => assert(a >= b) }
    // leg ranks reconcile with the legs recomputed independently
    val textLeg = Corpus.bm25TopK(docs, col("doc_id"), col("text"),
        terms, 20).collect()
      .sortBy(r => (-r.getLong(1), r.getLong(0)))
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val vecLeg = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") === 0L), 20).collect()
      .map(r => r.getLong(1) -> r.getAs[Long]("rank")).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == textLeg.getOrElse(id, 0L),
        s"text rank drifted for $id")
      assert(r.getLong(2) == vecLeg.getOrElse(id, 0L),
        s"vec rank drifted for $id")
      assert(r.getLong(1) > 0 || r.getLong(2) > 0,
        s"$id is in neither leg")
      val expFp =
        (if (r.getLong(1) > 0) 1000000000L / (r.getLong(1) + 60) else 0L) +
          (if (r.getLong(2) > 0) 1000000000L / (r.getLong(2) + 60) else 0L)
      assert(r.getLong(3) == expFp)
    }
  }

  test("hardNegatives: all below threshold, disjoint from dup set, " +
    "densest survivors kept") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val neg = graft.ext.Similarity.hardNegatives(emb, q, 5, 0.7)
    val rows = neg.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) < 0.7))
    // per query: the negatives are exactly the top-5 of the <0.7 set —
    // i.e. every returned cos >= any excluded candidate's cos is not
    // checkable cheaply, but rank must be 1..<=5 and strictly ordered
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.size).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
    }
  }
  test("knnGraph: every vector has ranked neighbors, mutual flag is " +
    "exactly the symmetric-edge indicator") {
    import org.apache.spark.sql.functions.col
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", 64,
      k = 5, nCells = 16, nProbe = 2).collect()
    val n = emb.count()
    val byV = g.groupBy(_.getLong(0))
    assert(byV.size == n, s"every vector must appear, got ${byV.size}/$n")
    byV.foreach { case (v, rs) =>
      val ranked = rs.sortBy(_.getLong(3))
      assert(ranked.map(_.getLong(3)).toSeq == (1L to ranked.size).toSeq)
      assert(ranked.forall(_.getLong(1) != v), "no self-edges")
      val cos = ranked.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    val edges = g.map(r => (r.getLong(0), r.getLong(1))).toSet
    g.foreach { r =>
      val expect = edges.contains((r.getLong(1), r.getLong(0)))
      assert((r.getLong(4) == 1L) == expect,
        s"mutual flag wrong on (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("knnGraphRecall: probe-all full-k configuration reaches 1.0") {
    import org.apache.spark.sql.functions.col
    // nProbe = nCells means every pair shares a cell -> candidate set
    // is complete -> the graph's top-k equals the exact top-k
    val rec = Similarity.knnGraphRecall(emb, "vec_id", "embedding", 64,
      k = 3, nCells = 8, nProbe = 8, maxQueryId = 5).collect()
    assert(rec.length == 5)
    rec.foreach(r => assert(r.getAs[Double]("recall_at_k") == 1.0,
      s"probe-all must be exact, got $r"))
  }

  test("dimStats: dead dims show zero variance, centered dims zero " +
      "mean, negative means divide symmetrically") {
    import spark.implicits._
    import graft.ext.Similarity
    // dim0: ±1 (mean 0, var 1e8 in q² units); dim1: constant 1
    // (dead: var 0); dim2: constant -0.5 (negative-mean division)
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, -0.5f)),
      (2L, Array(-1.0f, 1.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(vecs, col("embedding"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 0L, 100000000L),
      (1L, 2L, 10000L, 0L),
      (2L, 2L, -5000L, 0L)))
    // fixture sanity: every dim present, variance non-negative
    val fx = Similarity.dimStats(emb, col("embedding"))
      .as[(Long, Long, Long, Long)].collect()
    assert(fx.length == 64 && fx.forall(_._4 >= 0L))
  }
}
