package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own input generator: the ten tables the program
  * reads (`region nation customer supplier part orders lineitem events
  * documents embeddings`), with the column names, types and value
  * ranges of the repo's sf fixtures, at `scale` × the sf1 row counts.
  *
  * Every value is a function of `xxhash64(row id, salt)`, so a table is
  * bit-identical on every run at the same scale, whatever the
  * partitioning. The generated tables do not depend on the workload
  * seed, so expected outputs can be kept with the benchmark.
  */
object Inputs {
  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch")

  /** uniform draw in [0, m) keyed by (cols..., salt) */
  private def h(m: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(m))

  private def pick(values: Seq[String], salt: Int, c: Column): Column =
    element_at(array(values.map(lit): _*), (h(values.size, salt, c) + 1).cast("int"))

  private def day(offset: Column, from: String): Column =
    date_add(lit(java.sql.Date.valueOf(from)), offset.cast("int"))
      .cast("timestamp").cast("timestamp_ntz")

  private def money(m: Long, salt: Int, c: Column, shift: Double = 0.0): Column =
    round(h(m, salt, c) / 100.0 - shift, 2)

  def tables(spark: SparkSession, scale: Double): Map[String, DataFrame] = {
    def n(sf1: Long, floor: Long) = math.max(floor, math.round(sf1 * scale))
    val nCust = n(150000, 50)
    val nSupp = n(10000, 5)
    val nPart = n(200000, 50)
    val nOrders = n(1500000, 200)
    val nEvents = n(1000000, 200)
    val id = col("id")

    val region = spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(25, 1, id).cast("int").as("c_nationkey"),
      money(1099999, 2, id, 999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), 3, id).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(25, 4, id).cast("int").as("s_nationkey"),
      money(1099999, 5, id, 999.99).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("small", "red", "blue", "hot", "cold", "green", "big", "old"), 6, id),
        pick(Seq("ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"), 7, id))
        .as("p_name"),
      concat(lit("Brand#"), h(25, 8, id) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9, id)
        .as("p_type"),
      (h(50, 10, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 1).as("p_retailprice"))
    // order dates 1995-01-01 .. 2001-08-01 (2404 days), like the fixtures
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      h(nCust, 11, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12, id).as("o_orderstatus"),
      money(49900000, 13, id, -1000.0).as("o_totalprice"),
      day(h(2404, 14, id), "1995-01-01").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, id)
        .as("o_orderpriority"))
    // 1..7 lines per order (4 on average); (l_orderkey, l_linenumber) is unique
    val lineitem = spark.range(nOrders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (h(7, 16, id) + 1).cast("int"))).as("l_linenumber"),
        h(2404, 14, id).as("order_day"))
      .select(col("l_orderkey"),
        h(nPart, 17, col("l_orderkey"), col("l_linenumber")).as("l_partkey"),
        h(nSupp, 18, col("l_orderkey"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (h(50, 19, col("l_orderkey"), col("l_linenumber")) + 1).cast("double")
          .as("l_quantity"),
        round(h(10000000, 20, col("l_orderkey"), col("l_linenumber")) / 100.0, 2)
          .as("l_extendedprice"),
        (h(11, 21, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (h(9, 22, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 23, col("l_orderkey") * 8 + col("l_linenumber"))
          .as("l_returnflag"),
        pick(Seq("F", "O"), 24, col("l_orderkey") * 8 + col("l_linenumber"))
          .as("l_linestatus"),
        day(col("order_day") + 1 + h(121, 25, col("l_orderkey"), col("l_linenumber")),
          "1995-01-01").as("l_shipdate"))
    // events: 150 users over January 2024, timestamps increasing with
    // event_id at microsecond resolution
    val spanUs = 30L * 86400L * 1000000L
    val stepUs = spanUs / nEvents
    val events = spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs + h(stepUs, 26, id))
        .cast("timestamp_ntz").as("ts"),
      h(150, 27, id).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 28, id).as("event_type"),
      round(pow(h(1000000, 29, id) / 1000000.0, 3) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", h(100, 30, id)).as("props"))
    val nDocs = n(500000, 500)
    val tokens = transform(sequence(lit(1), (h(80, 31, id) + 8).cast("int")),
      j => element_at(array(Vocab.map(lit): _*), (h(30, 32, id, j) + 1).cast("int")))
    val documents = spark.range(nDocs).select(id.as("doc_id"),
      concat_ws(" ", tokens).as("text"),
      pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), 33, id).as("lang"),
      concat(lit("src"), h(20, 34, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-d vectors: a label centroid plus per-vector noise of the same size
    val nVec = n(500000, 500)
    val label = h(10, 35, id)
    val vec = transform(sequence(lit(0), lit(63)), j =>
      ((h(2001, 36, label, j) - 1000) / 10000.0 +
        (h(2001, 37, id, j) - 1000) / 10000.0).cast("float"))
    val embeddings = spark.range(nVec).select(id.as("vec_id"),
      vec.as("embedding"), label.cast("int").as("label"))

    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write the tables as `<dir>/<name>.parquet`, one file each; the
    * tables are written concurrently, four at a time. */
  def write(spark: SparkSession, dir: String, scale: Double,
            only: Set[String] = Set.empty): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val writes = tables(spark, scale).toSeq
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, df) => pool.submit(new Runnable {
          def run(): Unit =
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        }) }
      writes.foreach(_.get())
    } finally pool.shutdown()
  }
}
