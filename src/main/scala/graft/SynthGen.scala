package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data writer for scale-stress runs
  * (`SynthGen <outDir> <mult>`): emits the tables the scale-critical
  * queries read — documents, embeddings, customer, part, supplier,
  * orders, lineitem — at `mult` × the sf0.1 row counts, with the same
  * schemas and the same statistical shape as the driver fixtures
  * (30-word uniform vocabulary, doc lengths 10–100, ~5% duplicate
  * clusters, 10 embedding labels, 4 lineitems per order).
  *
  * Everything derives from `xxhash64(id, salt)` — no RNG state, so
  * any scale regenerates bit-identically and each table generates as
  * a single distributed projection over `spark.range` (no driver-side
  * data, no shuffle). Used by the SCALE.md measurements; never a
  * substitute for the read-only /root/testdata fixtures.
  */
object SynthGen {

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch")

  /** uniform bucket in [0, m) keyed by (cols..., salt) */
  private def h(m: Int, salt: Int, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(m.toLong))

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    // dup structure mirrors the fixture: ~2% exact copies of the
    // previous doc, ~3% near copies (≈2% tokens perturbed). The
    // vocabulary is DELIBERATELY richer than the fixture's 30 words:
    // 90% of draws come from a 3000-word tail, so shingle signatures
    // spread and the true near-dup answer is the explicit ~5% cluster
    // rate — LINEAR in n. On the fixture's pure-30-word vocab the
    // answer itself is quadratic (identical-signature groups grow
    // with n: sf0.1 already emits 2.9M hamming-≤3 pairs), which would
    // measure data structure, not engine scaling.
    val isExact = col("id") % 50 === 49
    val isNear = !isExact && col("id") % 20 === 19
    val seed = when(isExact || isNear, col("id") - 1).otherwise(col("id"))
    val len = (h(91, 0, seed) + 10).cast("int")
    val baseTok = (j: org.apache.spark.sql.Column) =>
      when(h(10, 6, seed, j) === 0,
        element_at(vocab, (h(30, 1, seed, j) + 1).cast("int")))
        .otherwise(concat(lit("w"), h(3000, 1, seed, j)))
    val tokens = transform(sequence(lit(1), len), j =>
      when(isNear && h(50, 2, col("id"), j) === 0,
        concat(lit("w"), h(3000, 3, col("id"), j)))
        .otherwise(baseTok(j)))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", tokens).as("text"),
      element_at(array(Seq("en", "en", "en", "zh", "fr", "de", "sv")
        .map(lit): _*), (h(7, 4, col("id")) + 1).cast("int")).as("lang"),
      concat(lit("src"), h(20, 5, col("id"))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** `aniso > 0` plants a DOMINANT COMMON DIRECTION: every vector
    * gains `t · g` where `t ~ uniform(−aniso, aniso)` per vector and
    * `g` is the fixed alternating-sign axis — the anisotropic corpus
    * shape (one direction carrying most of the variance) that the
    * PCA pre-pass exists to detect and the decorrelated PQ index
    * exists to fix (the recall A/B on it is SCALE.md §48).
    * Default 0.0 keeps every existing decade probe bit-identical. */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64,
                 aniso: Double = 0.0): DataFrame = {
    // 10 label centroids with per-vector noise as LARGE as the centroid
    // signal, so co-cluster members do NOT read as near-duplicates
    // (matching the fixture, where only ~0.02% of pairs pass) — the
    // near-dup pairs are the explicit ~5% near-copies (tiny extra
    // perturbation on the previous vector). Cluster-pair volume would
    // otherwise grow quadratically with n and poison the scaling
    // measurement with data, not engine, effects.
    val isNear = col("id") % 20 === 19
    val seed = when(isNear, col("id") - 1).otherwise(col("id"))
    val label = h(10, 0, seed)
    val t = (h(1000, 4, seed).cast("double") / 1000.0 - 0.5) *
      (2.0 * aniso)
    val vec = transform(sequence(lit(0), lit(dim - 1)), j =>
      ((h(1000, 1, label, j).cast("double") / 1000.0 - 0.5) +
        (h(1000, 2, seed, j).cast("double") / 1000.0 - 0.5) * 2.5 +
        t * when(j % 2 === 0, 1.0).otherwise(-1.0) +
        when(isNear,
          (h(1000, 3, col("id"), j).cast("double") / 1000.0 - 0.5) * 0.01)
          .otherwise(lit(0.0))).cast("float"))
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"),
      label.cast("int").as("label"))
  }

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select((col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      h(25, 0, col("id")).cast("int").as("c_nationkey"),
      (h(1000000, 1, col("id")).cast("double") / 100.0 - 1000.0)
        .as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (h(5, 2, col("id")) + 1).cast("int")).as("c_mktsegment"))

  def part(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select((col("id") + 1).as("p_partkey"),
      concat(lit("part "), h(1000, 0, col("id"))).as("p_name"),
      concat(lit("Brand#"), h(5, 1, col("id")), h(5, 2, col("id")))
        .as("p_brand"),
      concat(lit("TYPE"), h(6, 3, col("id"))).as("p_type"),
      (h(50, 4, col("id")) + 1).cast("int").as("p_size"),
      (h(100000, 5, col("id")).cast("double") / 100.0 + 900.0)
        .as("p_retailprice"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select((col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      h(25, 0, col("id")).cast("int").as("s_nationkey"),
      (h(1000000, 1, col("id")).cast("double") / 100.0 - 1000.0)
        .as("s_acctbal"))

  // NTZ like the fixtures: an instant-encoded (isAdjustedToUTC) column
  // reads back tz-AWARE in DuckDB and breaks the naive-timestamp
  // contract the whole warehouse runs on
  private def orderDateSec(key: org.apache.spark.sql.Column) =
    to_timestamp(lit("1995-01-01 00:00:00")).cast("long") +
      h(2557, 10, key) * 86400L
  private def orderDate(key: org.apache.spark.sql.Column) =
    orderDateSec(key).cast("timestamp").cast("timestamp_ntz")

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    spark.range(n).select((col("id") + 1).as("o_orderkey"),
      (h(nCust.toInt, 0, col("id")) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (h(3, 1, col("id")) + 1).cast("int")).as("o_orderstatus"),
      (h(50000000, 2, col("id")).cast("double") / 100.0).as("o_totalprice"),
      orderDate(col("id") + 1).as("o_orderdate"),
      concat(h(5, 3, col("id")) + 1, lit("-PRIORITY")).as("o_orderpriority"))

  /** `skewHot` > 0 sends that fraction of lineitem rows to partkey 1
    * (a single hot key) — the skew-study corpus for SCALE.md §8. */
  def lineitem(spark: SparkSession, n: Long, nPart: Long,
               nSupp: Long, skewHot: Double = 0.0): DataFrame =
    spark.range(n).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      when(lit(skewHot) > 0 &&
          h(1000, 9, col("id")) < (skewHot * 1000).toLong, 1L)
        .otherwise(h(nPart.toInt, 0, col("id")) + 1).as("l_partkey"),
      (h(nSupp.toInt, 1, col("id")) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(50, 2, col("id")) + 1).cast("double").as("l_quantity"),
      (h(10000000, 3, col("id")).cast("double") / 100.0 + 900.0)
        .as("l_extendedprice"),
      (h(11, 4, col("id")).cast("double") / 100.0).as("l_discount"),
      (h(9, 5, col("id")).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(3, 6, col("id")) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (h(2, 7, col("id")) + 1).cast("int")).as("l_linestatus"),
      (orderDateSec((col("id") / 4 + 1).cast("long")) +
        h(120, 8, col("id")) * 86400L).cast("timestamp")
        .cast("timestamp_ntz").as("l_shipdate"))

  /** 30-day event stream, ~uniform event types, JSON props — µs NTZ
    * timestamps (the reader normalizes nanos- and micros-encoded
    * feeds identically). */
  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val epoch = to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
    val spanSec = 30L * 86400
    // microsecond jitter so per-user orderings can't tie
    val tsMicros = (epoch +
      (col("id") * spanSec / lit(math.max(1L, n))).cast("long") +
      h(120, 0, col("id"))) * lit(1000000L) + h(1000000, 5, col("id"))
    spark.range(n)
      .withColumn("__micros", tsMicros)
      .select(col("id").as("event_id"),
        expr("cast(timestamp_micros(__micros) as timestamp_ntz)").as("ts"),
        (h(nUsers.toInt, 1, col("id")) + 1).as("user_id"),
        element_at(array(Seq("view", "click", "purchase", "signup", "error")
          .map(lit): _*), (h(5, 2, col("id")) + 1).cast("int"))
          .as("event_type"),
        (h(49000, 3, col("id")).cast("double") / 100.0 + 0.01).as("value"),
        concat(lit("{\"k\": "), h(100, 4, col("id")), lit("}")).as("props"))
  }

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toDouble
    val skewHot = if (args.length > 2) args(2).toDouble else 0.0
    val spark = Harness.session()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def m(base: Long) = math.max(1L, (base * mult).toLong)
    val nCust = m(15000); val nPart = m(20000); val nSupp = m(1000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "documents" -> documents(spark, m(5000)),
      "embeddings" -> embeddings(spark, m(2000)),
      "customer" -> customer(spark, nCust),
      "part" -> part(spark, nPart),
      "supplier" -> supplier(spark, nSupp),
      "orders" -> orders(spark, m(150000), nCust),
      "lineitem" -> lineitem(spark, m(600000), nPart, nSupp, skewHot),
      "events" -> events(spark, m(100000), m(1500)),
      "region" -> region(spark),
      "nation" -> nation(spark))
    // optional 4th arg: comma-separated table subset (decade probes
    // of one query family need not pay for a 5M-doc text corpus)
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    tables.filter(t => only.isEmpty || only(t._1)).foreach {
      case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[synthgen] wrote $name")
    }
    spark.stop()
  }
}
