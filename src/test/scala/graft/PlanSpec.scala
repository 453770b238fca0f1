package graft

/** Physical-plan shape guards: these properties are why the engine
  * scales, and nothing else fails loudly if a refactor loses them. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("delta_extract pushes the watermark predicate into the scan") {
    val p = plan("delta_extract")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"watermark not pushed:\n$p")
  }

  test("mart_region_revenue prunes every scan to its used columns") {
    val p = plan("mart_region_revenue")
    // lineitem: 3 of 11 columns; a full-width scan here is the
    // 100 TB regression this pin exists to catch
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_extendedprice:double,l_discount:double>"),
      s"lineitem scan not pruned to 3 columns:\n$p")
    assert(!p.contains("l_shipdate"), s"unused fact column read:\n$p")
  }

  test("mart_top_orders pushes the segment filter and bounds the sort") {
    val p = plan("mart_top_orders")
    // the customer scan must carry the mktsegment equality — pushing
    // it is what makes that side dimension-shaped (and broadcastable)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to the customer scan:\n$p")
    // k-bounded top-k, never a global sort of the aggregate
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k lost its bounded sort:\n$p")
  }

  test("fact_build broadcasts every dimension join") {
    val p = plan("fact_build")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast dim joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dim join fell back to sort-merge:\n$p")
  }

  test("fact_build prunes lineitem columns at the scan") {
    val p = plan("fact_build")
    // the widest lineitem read needs 8 of 11 columns; l_returnflag /
    // l_linestatus / l_shipdate must NOT be read
    assert(!p.contains("l_returnflag"), "l_returnflag read but unused")
    assert(!p.contains("l_linestatus"), "l_linestatus read but unused")
  }

  test("embedding_topk ranks through WindowGroupLimit (partial top-k)") {
    val p = plan("embedding_topk")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not plan as WindowGroupLimit:\n$p")
  }

  test("vocab_topk plans as TakeOrdered, never a global sort") {
    val p = plan("vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to full sort + limit:\n$p")
  }

  test("bm25_topk plans as TakeOrdered, never a global sort") {
    // the GraftConf contract counts hash shuffles; a regression to
    // sort+limit would be a RANGE exchange, which only this pin sees
    val p = plan("bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"retrieval top-k fell back to full sort + limit:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"unexpected global sort:\n$p")
  }

  test("graph_betweenness cuts through TakeOrdered — the reach-sized " +
      "node census never single-tasks through a global rank window") {
    // §50: the first draft ranked the census via a partitionless
    // window (one task carrying the whole reach); the shipped form
    // is orderBy+limit with rank stamped AFTER the k-row cut
    val p = plan("graph_betweenness")
    assert(p.contains("TakeOrderedAndProject"),
      s"betweenness cut fell back from distributed top-k:\n$p")
  }

  test("sample_split is a pure projection: no shuffle, no join") {
    val p = plan("sample_split")
    assert(!p.contains("Exchange hashpartitioning"),
      s"split assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
  }

  test("band_join is an equi-join on the delta cell, never a " +
      "nested-loop theta join") {
    val p = plan("band_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"band predicate must ride the bucket equi-join:\n$p")
    assert(p.contains("Join") || p.contains("join"),
      s"expected a hash/sort-merge equi-join in:\n$p")
  }

  test("priority_sample plans as TakeOrdered over a pure projection") {
    val p = plan("priority_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"fixed-n sample must be a k-bounded TakeOrdered:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"priority assignment must not shuffle:\n$p")
  }

  test("ann_ivf assigns cells with the compiled shortlist, not a crossJoin") {
    val p = plan("ann_ivf")
    // both assignment sides run the NearestCellsShortlist kernel as a
    // projection; the retired crossJoin+window formulation must not
    // reappear (it bent superlinear at the round-7 decade probe)
    val kernels = "nearest_cells_shortlist".r.findAllIn(p).size
    assert(kernels >= 2, s"compiled cell assignment missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"crossJoin assignment reappeared:\n$p")
  }

  test("overlap_check spreads the pair expansion to an explicit partition count") {
    val p = plan("overlap_check")
    // the streamed side must carry the explicit-N repartition (exempt
    // from AQE's input-byte coalescing) or the per-key quadratic
    // expansion serializes onto one task
    assert(p.contains("REPARTITION_BY_NUM"),
      s"pair join lost its explicit-N spread:\n$p")
  }

  test("overlap_runs is one shuffle: sort-window, no join, no pairs") {
    val p = plan("overlap_runs")
    assert(!p.contains("Join"), s"lead-window path must not join:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n$p")
  }

  test("ngram_jaccard candidates come from the band join, not an all-pairs join") {
    // the declared path is minhash candidates -> exact verify: a
    // gram-keyed inverted-index join (the Σdf² all-pairs shape) must
    // not appear anywhere in it
    val p = plan("ngram_jaccard")
    val gramJoin = """SortMergeJoin \[gram#|BroadcastHashJoin \[gram#""".r
    assert(gramJoin.findFirstIn(p).isEmpty,
      s"gram-keyed all-pairs join reappeared:\n$p")
    // the candidate generator (checkpoint-materialized inside the
    // declared query, so pinned here directly) keeps its explicit-N
    // spread against AQE coalescing
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val candPlan = graft.ext.Dedup.minhashCandidates(
        graft.ext.Dedup.minhashSignature(docs, col("doc_id"),
          col("text"), 3, 8), 8, 2)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("REPARTITION_BY_NUM"),
      s"band join lost its explicit-N spread:\n$candPlan")
  }

  test("group_topk ranks through WindowGroupLimit (partial top-k)") {
    val p = plan("group_topk")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not plan as WindowGroupLimit:\n$p")
  }

  test("stratified_sample and pii_mask are pure projections: no shuffle, no join") {
    Seq("stratified_sample", "pii_mask").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  test("contamination_check pushes the eval-slice filter and broadcasts eval grams") {
    val p = plan("contamination_check")
    assert(p.contains("Not(EqualTo(source,src19))"),
      s"corpus-side source filter not pushed to the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set should broadcast at this scale:\n$p")
    // never doc x doc: no join keyed on two doc ids
    val docPairJoin = """Join .*doc_id#\d+L\), (.*)?doc_id#\d+L\)""".r
    assert(docPairJoin.findFirstIn(p).isEmpty,
      s"doc-pair join appeared in contamination scan:\n$p")
  }

  test("dedup_incremental prunes the probe side before the band join") {
    val p = plan("dedup_incremental")
    // the batch filter must sit under the join (on d2's side), not
    // above it as a post-filter on the pair stream: in the plan-tree
    // rendering, children print BELOW their parent, so the filter's
    // offset must come after the first join's
    val fi = """Filter .*>= 400\)""".r.findFirstMatchIn(p)
    assert(fi.isDefined, s"probe-side batch filter missing:\n$p")
    val ji = """(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)""".r
      .findFirstMatchIn(p)
    assert(ji.isDefined, s"band join missing:\n$p")
    assert(fi.get.start > ji.get.start,
      s"batch filter sits ABOVE the band join (post-filter regression):\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("REPARTITION_BY_NUM"),
      s"band join lost its spread:\n$p")
  }

  test("simhash_dedup emits pairs without a pair-keyed distinct") {
    val p = plan("simhash_dedup")
    // the first-matching-band filter replaced the pair-level distinct:
    // no aggregate keyed on (d1, d2) may reappear (the doc-keyed
    // signature aggregate below the join is expected)
    val pairAgg = """HashAggregate\(keys=\[d1#\d+L, d2#\d+L\]""".r
    assert(pairAgg.findFirstIn(p).isEmpty,
      s"pair-level distinct reappeared:\n$p")
  }

  test("seq_pack's running total is partitioned by shard, never global") {
    val p = plan("seq_pack")
    val w = """Window \[sum\(n_tokens""".r.findFirstIn(p)
    assert(w.isDefined, s"window sum missing:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"prefix-sum window lost its shard partitioning (would serialize " +
        s"the whole corpus through one task):\n$p")
  }

  test("seq_pack_global broadcasts the per-shard bases, no corpus-wide sort") {
    val p = plan("seq_pack_global")
    // phase 1 window stays shard-partitioned
    assert(p.contains("hashpartitioning(shard"),
      s"local prefix-sum lost its shard partitioning:\n$p")
    // the nShards-row base table joins back by broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"shard-base join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"shard-base join fell back to sort-merge:\n$p")
  }

  test("kmeans_update assigns with the compiled shortlist, join-free") {
    val p = plan("kmeans_update")
    // the ASSIGN step is one NearestCellsShortlist projection per row
    // (codebook inside the expression); the retired crossJoin+window
    // form bent superlinear at the round-7 decade probe
    assert(p.contains("nearest_cells_shortlist"),
      s"compiled cell assignment missing:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    // the UPDATE stays a map-side-combinable keyed agg
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"partial+final agg pair expected:\n$p")
  }

  test("zorder_key and frame_sample are shuffle-free projections") {
    Seq("zorder_key", "frame_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
    // the frame manifest is generated, not joined in
    assert(plan("frame_sample").contains("Generate"),
      "frame_sample lost its generator")
  }

  test("pack_manifest adds no shuffle beyond seq_pack's prefix sum") {
    def exchanges(q: String) =
      "Exchange hashpartitioning".r.findAllIn(plan(q)).size
    assert(exchanges("pack_manifest") == exchanges("seq_pack"),
      "chunk explosion must stay a projection over the packed frame")
  }

  test("embedding_centroid is one hash agg with map-side partial combine") {
    val p = plan("embedding_centroid")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"partial+final agg pair expected:\n$p")
    assert(!p.contains("Join"), s"centroid must not join:\n$p")
    // exactly one shuffle: the (label, pos) keyed exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one keyed shuffle:\n$p")
  }

  test("phrase_bigrams joins the unigram table broadcast, never sorted") {
    val p = plan("phrase_bigrams")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts == 2, s"expected both unigram joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab-bounded join fell back to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("ann_rrf_fusion: both scan legs broadcast the bounded query side") {
    val p = plan("ann_rrf_fusion")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl == 2, s"expected the two broadcast leg scans:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a leg scan degenerated to a cartesian:\n$p")
  }

  test("event_transitions: windows are partitioned, matrix agg join-free") {
    val p = plan("event_transitions")
    assert(!p.contains("Join"), s"transition matrix must not join:\n$p")
    // both windows (session numbering, row-probability) carry a
    // partition spec — an empty partitionBy would collapse the corpus
    // into one task
    assert(!p.contains("SinglePartition"),
      s"a window collapsed to a single partition:\n$p")
  }

  test("declared query names are unique (no silent Map shadowing)") {
    val names = Queries.all.map(_._1)
    val dups = names.groupBy(identity).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.length)
  }

  test("epoch_shuffle never sorts the corpus through one partition") {
    // the operator itself (the declared query adds a presentation
    // orderBy for the oracle, which IS a range sort — not the claim)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ext.Corpus.epochShuffle(docs,
        org.apache.spark.sql.functions.col("doc_id"), nShards = 8)
      .queryExecution.executedPlan.toString
    // per-row work rides shard-partitioned windows; the only
    // single-partition exchange is the |shards|-row offset window
    assert(!p.contains("Exchange rangepartitioning"),
      s"global range sort over the corpus:\n$p")
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"shard-partitioned window missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must broadcast back:\n$p")
  }

  test("mix_sample broadcasts the per-stratum rates back to the rows") {
    val p = plan("mix_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"stratum rates must broadcast, not shuffle the rows:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rate join shuffled:\n$p")
  }

  test("tumbling_window is one hash agg pair, no join, no sort-shuffle") {
    val p = plan("tumbling_window")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"partial+final agg pair expected:\n$p")
    assert(!p.contains("Join"), s"windowed agg must not join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one keyed shuffle:\n$p")
  }

  test("fixed_n_sample ranks inside stratum partitions only") {
    val p = plan("fixed_n_sample")
    assert(p.contains("Exchange hashpartitioning(g"),
      s"stratum-partitioned rank missing:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"rank serialized through one partition:\n$p")
  }

  // ----- GraftConf.contracts: the executable cluster-conf pins -----

  private def assertContract(name: String, c: GraftConf.PlanContract,
                             p: String): Unit = {
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size
    assert(broadcasts >= c.minBroadcastJoins,
      s"[${c.family}] $name: expected >=${c.minBroadcastJoins} broadcast " +
        s"joins, got $broadcasts:\n$p")
    if (c.forbidSortMerge)
      assert(!p.contains("SortMergeJoin"),
        s"[${c.family}] $name: a join fell back to sort-merge:\n$p")
    if (c.requireExplicitSpread)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"[${c.family}] $name: explicit-N spread lost:\n$p")
    c.maxHashShuffles.foreach { m =>
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= m,
        s"[${c.family}] $name: $n hash shuffles, contract allows $m:\n$p")
    }
    if (c.forbidJoin)
      assert(!p.contains("Join"), s"[${c.family}] $name: unexpected join:\n$p")
  }

  test("every GraftConf plan contract holds under the base conf") {
    // the contracts pin plans under the conf the harnesses RUN with —
    // apply GraftConf.base explicitly (the suite's default session
    // would only test Spark defaults, passing vacuously if base drifts)
    val s2 = spark.newSession()
    GraftConf.base(4).foreach { case (k, v) => s2.conf.set(k, v) }
    GraftConf.contracts.foreach { case (name, c) =>
      assertContract(name, c, SparkEntry.queries(name)(s2, sf)
        .queryExecution.executedPlan.toString)
    }
  }

  test("skew_join keeps the salted shuffle-hash shape (never broadcast theater)") {
    val p = plan("skew_join")
    // the salt is only load-bearing on a shuffled join: the hint must
    // hold, the join key must carry the salt columns, and the build
    // side must show its explode replication
    assert(p.contains("ShuffledHashJoin"),
      s"salted join lost its shuffle-hash hint:\n$p")
    assert("ShuffledHashJoin \\[[^\\]]*__salt".r.findFirstIn(p).isDefined,
      s"join key lost the salt column:\n$p")
    // the sequence literal constant-folds, so the replication prints
    // as a Generate over a folded array
    assert(p.contains("Generate explode("),
      s"build-side replication missing:\n$p")
  }

  test("a skewed shuffle join is AQE-skew-split eligible under the base conf") {
    // GraftConf.base turns skewJoin on; this pins that the setting
    // actually ENGAGES on a skewed sort-merge join (the runtime
    // remedy SCALE.md §8 prescribes over salting for combinable
    // paths): the AQE final plan must mark the join skew=true
    val s2 = spark.newSession()
    GraftConf.base(4).foreach { case (k, v) => s2.conf.set(k, v) }
    // thresholds scaled down so the fixture-sized skew qualifies
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "32KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    import org.apache.spark.sql.functions.{col, when}
    // half the probe rows share one key; the build side is unique-
    // keyed (a hot×hot join would explode combinatorially, and real
    // fact->dim skew is probe-side anyway)
    val left = s2.range(0, 200000)
      .select(when(col("id") < 100000, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val right = s2.range(0, 50000).select(col("id").as("k"),
      col("id").as("w"))
    val j = left.join(right, "k")
    j.collect() // AQE decides post-shuffle: run THIS plan to finality
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE skew split did not engage on a 50%-hot-key join:\n$p")
  }

  test("the keyed pin keeps its hash layout: a groupBy and a self-join " +
      "on the key plan no Exchange and no Sort; a plain pin keeps none") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      UnknownPartitioning}
    import org.apache.spark.sql.functions.col
    import graft.ext.Pin
    // AQE on, as the harnesses run; no broadcast, so the self-join
    // must plan as a keyed shuffle join
    val s2 = spark.newSession()
    GraftConf.base(4).foreach { case (k, v) => s2.conf.set(k, v) }
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val src = s2.range(0, 5000)
      .select((col("id") % 97).as("k"), col("id").as("v"))
    val keyed = Pin.pin(src, "plan-spec", Seq(col("k")))
    keyed.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions ==
          s2.sessionState.conf.numShufflePartitions, h)
      case other => fail(s"keyed pin reports $other")
    }
    val grouped = keyed.groupBy("k").count()
    val joined = keyed.join(
      keyed.select(col("k"), col("v").as("v2")), "k")
    for (df <- Seq(grouped, joined)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"exchange over the keyed pin:\n$p")
      assert("\\bSort \\[".r.findFirstIn(p).isEmpty,
        s"sort over the keyed pin:\n$p")
    }
    assert(joined.queryExecution.executedPlan.toString
      .contains("SortMergeJoin"))
    // and the rows are the unpinned relation's
    val byKey = src.groupBy("k").count().collect().toSet
    assert(grouped.collect().toSet == byKey)
    assert(joined.count() ==
      byKey.toSeq.map(r => r.getLong(1) * r.getLong(1)).sum)
    val plain = Pin.pin(src.repartition(8, col("k")))
    assert(plain.queryExecution.executedPlan.outputPartitioning
      .isInstanceOf[UnknownPartitioning])
  }

  test("conf drift detection: threshold=-1 flips fact_build to sort-merge") {
    // the drift the contracts exist to catch, demonstrated: kill the
    // broadcast threshold and the warehouse star silently becomes a
    // fact-sized shuffle join — assertContract must then FAIL
    val s2 = spark.newSession()
    GraftConf.base(4).foreach { case (k, v) => s2.conf.set(k, v) }
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = SparkEntry.queries("fact_build")(s2, sf)
      .queryExecution.executedPlan.toString
    val failed = scala.util.Try(
      assertContract("fact_build", GraftConf.contracts("fact_build"), p))
    assert(failed.isFailure,
      s"contract did not catch the broadcast->sort-merge drift:\n$p")
  }

  test("link_predict_approx: equi-joins only — banding and array " +
      "verification never degenerate to a cartesian") {
    val p = plan("link_predict_approx")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a non-equi join crept into the screen:\n$p")
    // verification is the array form: no third re-aggregation of an
    // exploded adjacency (count-distinct-free plan past the banding)
    assert(p.contains("array_intersect"),
      s"verification lost the array-intersection form:\n$p")
  }

  test("knn_graph_hier: assignment through the compiled shortlist " +
      "kernels, no crossJoin") {
    val p = plan("knn_graph_hier")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the declared query checkpoints the assignment, so pin the
    // kernel on the assignment subplan itself (same path the query
    // materializes)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ap = ext.Similarity.withNearestCellsHier(emb, "vec_id",
        "embedding", nCells = 16, nSuper = 4, nProbe = 2, sProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!ap.contains("CartesianProduct"),
      s"hier assignment crossJoins:\n$ap")
    assert(ap.toLowerCase.contains("shortlist"),
      s"hier assignment lost the compiled kernel:\n$ap")
  }

  test("knn_cell_audit: one assignment projection + one hash agg, " +
      "no join anywhere") {
    val p = plan("knn_cell_audit")
    assert(!p.contains("Join"), s"occupancy audit must not join:\n$p")
    assert(p.contains("HashAggregate"), s"expected a hash agg:\n$p")
  }

  test("degree_histogram: the global window runs on the degree " +
      "HISTOGRAM, never the node table") {
    val p = plan("degree_histogram")
    // shape: adjacency agg -> histogram agg -> window. The window's
    // input must sit above BOTH aggs — a window straight over the
    // degree table would single-partition-sort every node at scale
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"expected the cumulative window:\n$p")
    val aggsAbove = "HashAggregate".r.findAllIn(p.substring(winIdx)).size
    assert(aggsAbove >= 4,
      s"window not fed by the two-agg histogram reduction:\n$p")
    // the totals row joins in as a 1-row broadcast; a true cartesian
    // would mean the histogram reduction was lost
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian:\n$p")
  }

  test("pq_drift_audit: codebook joins broadcast, no window, " +
      "no cartesian") {
    val p = plan("pq_drift_audit")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"codebook join fell back to sort-merge:\n$p")
    assert(!p.contains("Window"),
      s"the drift audit needs no window:\n$p")
  }

  test("link_predict_approx_persisted: ranking from the index never " +
      "recomputes a signature (no hash kernel in the plan)") {
    val p = plan("link_predict_approx_persisted")
    // the signature agg lives in the BUILD (linkApproxWriteIndex);
    // the ranking plan must read persisted minima and min-fold them —
    // a poly_hash in this plan means the index stopped paying for
    // itself
    assert(!p.toLowerCase.contains("poly_hash"),
      s"ranking recomputed signatures:\n$p")
    assert(p.contains("array_intersect"),
      s"verification lost the array-intersection form:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }
}
