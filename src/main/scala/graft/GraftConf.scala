package graft

import org.apache.spark.sql.SparkSession

/** Executable cluster configuration — SURVEY §7.6's partitioning
  * prose as CHECKED DATA. Two halves:
  *
  *  1. [[base]]: the session conf every entrypoint builds from
  *     ([[Harness.session]] is the one caller of [[applyBase]] — one
  *     source of truth, so no main can drift from the posture the
  *     plans were tuned under). On a real cluster the same map is the
  *     `--conf` set; cores becomes executor parallelism (shuffle
  *     partitions ~2–3× total cores there, = cores on local[N]
  *     where there is no straggler variance to amortize).
  *
  *  2. [[contracts]]: per-query physical-plan expectations, grouped
  *     by family, EXECUTED by PlanSpec against the live plans. A
  *     config drift that would silently flip a broadcast dim join
  *     into a 60M-row shuffle fails the suite instead (PlanSpec's
  *     drift test demonstrates exactly that flip with
  *     autoBroadcastJoinThreshold=-1).
  */
object GraftConf {

  /** AQE on (coalesce + skew split — SCALE.md §8 measured when the
    * runtime skew split beats explicit salting); 10 MiB broadcast
    * threshold (every warehouse dimension at any SF fits far under
    * it; no fact table ever does, so the threshold — not luck —
    * decides the join strategies the contracts pin); parquet
    * TIMESTAMP(NANOS) read as long (the `events` fixture; `Queries`
    * converts it), set for the whole session because a read takes
    * its schema from this conf when it is planned; timestamps are
    * written as INT64 micros, not INT96. */
  def base(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (10L * 1024 * 1024).toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** Fold [[base]] into a session builder, plus the CORE (non-SQL,
    * set-at-startup-only) confs: long sessions (the 330-query bench,
    * a day-2 service) accumulate dead checkpoint blocks
    * between collections — a 48 GiB heap GCs so rarely that the
    * ContextCleaner never runs and block memory pressure bleeds into
    * later queries (the r11/r12 quiet passes kept adjudicating
    * exactly this as "contended"). The default periodic-GC interval
    * is 30 min, longer than the whole bench; 2 min keeps cleanup
    * bounded without touching any timed region. Lives here and not
    * in [[base]] because a live session cannot set core confs
    * (PlanSpec re-applies [[base]] via `spark.conf.set`). */
  def applyBase(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    (base(cores) + ("spark.cleaner.periodicGC.interval" -> "2min"))
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** What a query's PHYSICAL plan must look like for the engine to
    * hold at 100 TB — each field is a concrete assertion PlanSpec
    * executes against the compiled plan string.
    *
    *  - `minBroadcastJoins`: at least this many broadcast joins (the
    *    dim sides of the star schema / the bounded query side of a
    *    scan);
    *  - `forbidSortMerge`: no join may fall back to sort-merge (a
    *    dim that stops broadcasting shuffles the fact — the silent
    *    60M-row regression this file exists to catch);
    *  - `requireExplicitSpread`: the plan keeps a REPARTITION_BY_NUM
    *    (AQE-coalesce-exempt) spread — pair-expansion paths
    *    serialize onto one task without it;
    *  - `maxHashShuffles`: at most this many hash-partition
    *    exchanges (projection families must have zero);
    *  - `forbidJoin`: stateless projection families may not join.
    */
  final case class PlanContract(
      family: String,
      minBroadcastJoins: Int = 0,
      forbidSortMerge: Boolean = false,
      requireExplicitSpread: Boolean = false,
      maxHashShuffles: Option[Int] = None,
      forbidJoin: Boolean = false)

  /** The pinned hot paths. Warehouse stars broadcast every dim;
    * pair-expansion paths keep their explicit spread; text scoring
    * families stay pure projections. (Queries with bespoke shapes —
    * skew_join's salted shuffle-hash join, seq_pack's sharded
    * window — keep their dedicated PlanSpec tests.) */
  val contracts: Map[String, PlanContract] = Map(
    "fact_build" -> PlanContract("warehouse",
      minBroadcastJoins = 3, forbidSortMerge = true),
    // Q5 star: region + nation are O(10)-row broadcasts at ANY
    // scale; customer broadcasts while it fits the threshold —
    // pin the two that hold at 100 TB, let AQE decide the third
    "mart_region_revenue" -> PlanContract("warehouse",
      minBroadcastJoins = 2),
    // Q3: the segment-filtered customer side must broadcast at the
    // conf threshold (the filter is what makes it dimension-shaped)
    "mart_top_orders" -> PlanContract("warehouse",
      minBroadcastJoins = 1),
    // anomaly family: one rollup exchange + type-keyed window — a
    // join sneaking in means someone re-derived the totals the
    // window already carries
    "ewma_volume" -> PlanContract("anomaly",
      forbidJoin = true, maxHashShuffles = Some(2)),
    "growth_rates" -> PlanContract("anomaly", forbidJoin = true),
    "fact_delta" -> PlanContract("warehouse",
      minBroadcastJoins = 1, forbidSortMerge = true),
    "asof_join" -> PlanContract("warehouse",
      minBroadcastJoins = 1, forbidSortMerge = true),
    "delta_extract" -> PlanContract("warehouse", forbidSortMerge = true),
    "mart_current" -> PlanContract("warehouse", forbidSortMerge = true),
    "overlap_check" -> PlanContract("pairs", requireExplicitSpread = true),
    "sample_split" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "stratified_sample" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "pii_mask" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "lang_id" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "quality_score" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "token_count" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "feature_hash" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "embedding_quantize" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    "gopher_rules" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    // one 5-column reduce: a single-partition exchange, never a
    // hash-partitioned one
    "quality_lr_step" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    // kernel features + literal LLR dot: the ONLY corpus-scale hash
    // shuffle is the stratum selection window (the 100x probe killed
    // the (doc,bucket) two-level-aggregate formulation at 32M rows —
    // this contract keeps it dead); bucket counts reduce into the
    // same count, so the ceiling is 2
    "dsir_weights" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(2)),
    // sign-bit scan: queries broadcast against the spread corpus,
    // re-rank joins back broadcast-side — no sort-merge anywhere
    "ann_binary_topk" -> PlanContract("ann", minBroadcastJoins = 2,
      forbidSortMerge = true, requireExplicitSpread = true),
    // post-pin MM tail: every ratings-relation join is declared
    // broadcast (≤ |players| rows by construction) — a sort-merge
    // here means the hint was lost and the solver would shuffle the
    // pair relation once per iteration at scale
    "bt_rating" -> PlanContract("preference",
      minBroadcastJoins = 2, forbidSortMerge = true),
    "doc_chunk" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    // gopher projection + ONE stratum agg (no corpus re-join — the
    // carry-column variant keeps the grouping key in the projection)
    "gopher_reject_stats" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // stats via a driver-collected literal; scoring must stay a pure
    // projection into a TakeOrdered top-k, never a join or window
    "bm25_topk" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(0)),
    // zero-shuffle bigram projection + two aggs; the vocab-bounded
    // unigram table must come back BROADCAST on both keys (a shuffle
    // join here would reshuffle the bigram table twice)
    "phrase_bigrams" -> PlanContract("text-agg",
      minBroadcastJoins = 2, forbidSortMerge = true),
    // session window + matrix agg + row-probability window: three
    // keyed shuffles (user, pair, prev_type), never a join and never
    // more shuffles (a corpus re-join for row totals is the
    // regression this ceiling catches)
    "event_transitions" -> PlanContract("sessions",
      forbidJoin = true, maxHashShuffles = Some(3)),
    // cluster-scoped pair expansion (the SemDeDup Σ|c|² bound) must
    // keep the AQE-coalesce-exempt spread on the cluster key
    "semantic_dedup" -> PlanContract("pairs",
      requireExplicitSpread = true),
    "semantic_dedup_hier" -> PlanContract("pairs",
      requireExplicitSpread = true),
    // assignment = scan + broadcast centroid join, then ONE
    // cluster-keyed window exchange — a corpus-side shuffle join or a
    // second corpus shuffle is the regression these pins catch
    "cluster_prune" -> PlanContract("ann", minBroadcastJoins = 1,
      forbidSortMerge = true, maxHashShuffles = Some(1)),
    "cluster_health" -> PlanContract("ann", minBroadcastJoins = 1,
      forbidSortMerge = true, maxHashShuffles = Some(1)),
    // one projection + ONE stratum-keyed window cumsum; never a join
    "token_budget_sample" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // one projection + one map-side-combining agg over <= |langs|^2
    // cells; never a join
    "lang_confusion" -> PlanContract("text-agg",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // boundary scoring is one projection; then four KEYED exchanges
    // (doc window, (doc, chunk) assembly, (h, chunk) group sizes, doc
    // counts) and never a join — a corpus re-join for chunk counts is
    // the regression this pin catches
    "cdc_chunk_stats" -> PlanContract("text-agg",
      forbidJoin = true, maxHashShuffles = Some(4)),
    "cdc_scrub" -> PlanContract("text-agg",
      forbidJoin = true, maxHashShuffles = Some(4)),
    // cell-blocked self-join: the pair expansion must keep its
    // AQE-exempt spread on the cell key (the mutuality join of the
    // two n·k top-k frames may legitimately sort-merge at scale)
    "knn_graph" -> PlanContract("pairs", requireExplicitSpread = true),
    // one scoring projection + one <=17-row band aggregate; a join or
    // second corpus shuffle means someone re-derived the logit
    "quality_calibration" -> PlanContract("projection",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // stratum aggregate + |strata|-row plan math; never a corpus join
    "mix_epoch_plan" -> PlanContract("text-agg",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // one scoring projection + one domain-keyed window; a join means
    // the cap re-derived quality from a second corpus scan
    "domain_cap" -> PlanContract("text-agg",
      forbidJoin = true, maxHashShuffles = Some(1)),
    // the topN vocab must BROADCAST into the coverage join (a
    // sort-merge here shuffles the full exploded token stream twice)
    "vocab_coverage" -> PlanContract("text-agg",
      minBroadcastJoins = 1, forbidSortMerge = true),
    // covariance: the ONE corpus pass lives behind the moment
    // checkpoint; the final plan is checkpoint scans + the d-row
    // moment slices and the 1-row n relation coming back BROADCAST
    // (3 grp-keyed broadcast hash joins via covFromMomentsBy) with
    // ZERO hash exchanges — a corpus-keyed join or re-scan downstream
    // is the 100 TB regression (PcaSpec pins the no-FileScan half)
    "embedding_covariance" -> PlanContract("pca",
      minBroadcastJoins = 3, forbidSortMerge = true,
      maxHashShuffles = Some(0)),
    // projection: the eigenvector is a d-long array LITERAL (bounded
    // by the schema) against a streamed corpus scan, dot inside
    // codegen — a pure projection, never a join or corpus shuffle
    "pca_project" -> PlanContract("pca",
      forbidJoin = true, maxHashShuffles = Some(0)),
    // brute-scan eval: bounded query side broadcast against the
    // spread corpus (the scoredPairs shape) — a sort-merge here means
    // the query side stopped broadcasting and the corpus shuffles
    "retrieval_mrr" -> PlanContract("ann", minBroadcastJoins = 1,
      forbidSortMerge = true, requireExplicitSpread = true),
    // mean/variance are array literals from the collected moments;
    // the scored scan is a pure projection into a bounded TakeOrdered
    "embedding_outliers" -> PlanContract("pca",
      forbidJoin = true, maxHashShuffles = Some(0)))
}
