package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.checks.Checks
import graft.dims.{DateDim, Scd2Dimension}
import graft.facts.FactLoader
import graft.meta.{LoadTracker, RunLog, StagedWrite}
import graft.schema.{Tables, Warehouse}

/** End-to-end warehouse build — the reference's documented run order
  * (SQL:1799-1811): date dim, then SCD2 dims, then the fact (always
  * last, J46), then validation. The build writes the reference's
  * tables, the `int/` and `meta/` ones; its marts are views
  * (SQL:1548-1612), so they are [[graft.marts.Marts]] functions over
  * these tables and nothing writes them. Re-running is the
  * reference's headline test (SQL:70-74): every load must be
  * idempotent — second run inserts 0 rows and leaves tables unchanged.
  *
  * Fixture roles (FIXTURES.md §C): `customer`/`part`/`supplier` are
  * the dimension sources (static snapshot, one initial version);
  * `events` is the change feed for a genuinely versioned dim
  * (user_id -> SCD2 history); `orders ⋈ lineitem` is the fact source.
  */
object Pipeline {

  final case class RunResult(dimDateRows: Long, dimInserts: Map[String, Long],
                             factInserts: Long, violations: Map[String, Long])

  /** Seed validity for snapshot-style dims: just after the tracker
    * epoch so the first load's watermark filter (`> epoch`) picks the
    * rows up, and every rerun sees an empty delta. */
  private val SeedTs = java.time.LocalDateTime.of(1900, 1, 2, 0, 0, 0)

  /** Two validation layers guard a run:
    *
    *   - every load's PRE-publish gate (the reference author's
    *     production note, SQL:1622) always runs: each load checks its
    *     candidate's touched keys with the Stage-5 sweep code before
    *     the publish and aborts — table, watermark, success log
    *     untouched — on a violation ([[graft.meta.LoadTransaction]]);
    *   - the POST-publish sweep below (the reference's own Stage 5
    *     runs after its loads, SQL:1616-1622) covers whole tables and
    *     the cross-table invariants (referential integrity, structure)
    *     that no single load owns. It always returns its counts;
    *     `strict = true` also throws a
    *     [[graft.checks.CheckViolation]] on any nonzero one.
    *
    * A no-op rerun is almost all fixed per-job cost, so the run keeps
    * its job count down:
    *
    *   - the control plane is read once: one [[LoadTracker]] per run
    *     (read on first use, rewritten from memory), and the run log
    *     is read with its declared schema;
    *   - the control plane is written on the driver: a tracker advance
    *     or a run-log row is a parquet file written with no Spark job;
    *   - a load whose delta is proven empty from the optimized plan or
    *     the source footers runs no stats action
    *     ([[graft.meta.LoadTransaction]]); what is left of a no-op
    *     load is the snapshot dims' deleted-key scan;
    *   - `int/dim_date` is rewritten only when its build range or
    *     schema changes; the date sweep still reads it every run;
    *   - every source is read once, and every warehouse table once,
    *     right after its last write (a DataFrame made before a
    *     `StagedWrite` of its own path would hold a stale file
    *     listing); the fact's dimension lookups and the sweep share
    *     those reads;
    *   - every read goes through [[graft.schema.Tables.read]], which
    *     takes the schema from one footer on the driver, so planning a
    *     read runs no schema-inference job;
    *   - the Stage-5 sweep is three actions
    *     ([[graft.checks.Checks.factSweep]], `dimSweep`, `dateSweep`),
    *     not one `count()` per check.
    *
    * The loads run one after another, the fact last (J46): each
    * depends on the ones before it through the tracker and the
    * dimension lookups, and each `etl_run_log` row times its load
    * alone. The three sweep actions only read published tables, so
    * they run together on a fixed driver pool and are joined before
    * the structure check and the strict throw; any failure among them
    * fails the run. */
  def runAll(spark: SparkSession, sfDir: String, root: String,
             strict: Boolean = false): RunResult = {
    val wh = Warehouse(root)
    val tracker = new LoadTracker(spark, wh.meta("etl_load_tracker"))
    val log = new RunLog(spark, wh.meta("etl_run_log"))

    // 1. date dimension (reference Stage 2.2). Its key carries the
    // build range, so a published table whose footer schema equals the
    // one about to be written holds this build: it is not rewritten. A
    // change to DateDim.build's values that keeps its schema must also
    // change this tag
    val (dateFrom, dateTo) = ("1995-01-01", "2001-12-31")
    val dateDim = DateDim.build(spark, dateFrom, dateTo).withMetadata("date_key",
      new MetadataBuilder().putString("built_from", dateFrom)
        .putString("built_to", dateTo).build())
    if (!FooterSchema.of(spark, wh.int("dim_date")).contains(dateDim.schema))
      StagedWrite.overwrite(dateDim, wh.int("dim_date"))
    val dimDate = Tables.read(spark, wh.int("dim_date"))

    // 2. SCD2 dims (reference Stage 2.3-2.5 / procs): static snapshot
    // sources, one initial version each
    val snapshotDims = Seq(
      ("customer", "c_custkey", Seq("c_name", "c_mktsegment")),
      ("part", "p_partkey", Seq("p_name", "p_brand")),
      ("supplier", "s_suppkey", Seq("s_name", "s_acctbal")))
    val snapshotInserts = snapshotDims.map { case (name, nk, tracked) =>
      val src = Tables.src(spark, sfDir, name)
      name -> new Scd2Dimension(name, nk, "valid_from", tracked).load(
        spark, src.withColumn("valid_from", lit(SeedTs)), Some(src.select(nk)),
        wh.int(s"dim_$name"), tracker, log)
    }

    // genuinely versioned dim from the events change feed. Named
    // "user_profile", NOT "user": the surrogate column is
    // "<name>_id" and a name of "user" would make it collide with —
    // and silently overwrite — the "user_id" natural key.
    val userFeed = Queries.eventsTable(spark, sfDir).select(
      col("user_id"), col("event_type"), col("value"),
      col("ts").as("valid_from"), col("event_id"))
    val dimUser = new Scd2Dimension("user_profile", "user_id", "valid_from",
      Seq("event_type", "value"), Seq("event_id"))
    val userInserts = dimUser.load(spark, userFeed, None,
      wh.int("dim_user_profile"), tracker, log)

    // (name, natural key, table) of every SCD2 dim, read once
    val dims = (snapshotDims.map(d => d._1 -> d._2) :+ ("user_profile" -> "user_id"))
      .map { case (name, nk) => (name, nk, Tables.read(spark, wh.int(s"dim_$name"))) }
    val dimTable = dims.map(d => d._1 -> d._3).toMap

    // 3. fact load — always last (J46)
    val currentDim = (name: String, nk: String) =>
      dimTable(name).filter(col("is_current") === 1L)
        .select(col(s"${name}_id"), col(nk))
    val factInserts = FactLoader.load(spark,
      Tables.src(spark, sfDir, "lineitem"), Tables.src(spark, sfDir, "orders"),
      Map(
        "customer" -> ((currentDim("customer", "c_custkey"),
          col("o_custkey"), col("c_custkey"))),
        "part" -> ((currentDim("part", "p_partkey"),
          col("l_partkey"), col("p_partkey"))),
        "supplier" -> ((currentDim("supplier", "s_suppkey"),
          col("l_suppkey"), col("s_suppkey")))),
      wh.int("factsales"), tracker, log)
    val fact = Tables.read(spark, wh.int("factsales"))

    // 4. the validation sweep (reference Stage 5); the marts (reference
    // Stage 4) are views, see graft.marts.Marts
    val counts = concurrently(Seq(
      () => Checks.factSweep(fact, snapshotDims.map(d => d._1 -> dimTable(d._1))),
      () => Checks.dimSweep(dims),
      () => Checks.dateSweep(dimDate))).reduce(_ ++ _)

    // warehouse structure (reference Stage 5.1, SQL:1626-1638): the
    // tables the build writes must exist on disk
    val expectedTables =
      Seq("dim_date", "dim_customer", "dim_part", "dim_supplier",
        "dim_user_profile", "factsales").map(n => n -> wh.int(n)) ++
        Seq("etl_load_tracker", "etl_run_log").map(n => n -> wh.meta(n))
    val violations = counts - "dim_date_rows" +
      ("structure_missing" -> Checks.structure(spark, expectedTables).size.toLong)

    val result = RunResult(counts("dim_date_rows"),
      snapshotInserts.toMap + ("user_profile" -> userInserts), factInserts, violations)
    if (strict) Checks.enforce(violations)
    result
  }

  /** Runs `tasks` together on a fixed driver pool and waits for every
    * one of them; then rethrows the first failure, if any. The pool is
    * shut down whatever happens. */
  private[graft] def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val pending = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      pending.map(f => Try(f.get())).map {
        case Success(a) => a
        case Failure(e: ExecutionException) => throw e.getCause
        case Failure(e) => throw e
      }
    } finally pool.shutdown()
  }
}
