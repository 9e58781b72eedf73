package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md).
  *
  * Capability surface derived from the reference's batch stand-in tables:
  * the `events` table is the batch twin of the Arc Kinesis feed the
  * reference filters (reference: README.md:2 "Filters ARC kinesis feed
  * events").
  *
  * Scale notes (100 TB discipline): every loader returns a plain
  * `spark.read.parquet` scan so Catalyst's DSv2 pushdown / column pruning /
  * partition pruning apply unchanged when the single-file fixtures are
  * swapped for partitioned multi-file datasets.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** ADAPTIVE rebalance for CPU-bound narrow stages (tokenize, render,
    * codec, fingerprint): when the source under-partitions — a single
    * unsplittable parquet row group, a small compressed file hiding
    * minutes of per-row CPU — the whole stage serializes on one core no
    * matter how many executors exist. If the input has fewer than half
    * the cluster's default parallelism in partitions, shuffle it out;
    * otherwise NO-OP, so at real scale (thousands of input splits) no
    * exchange is added and narrow plans stay narrow. The rebalance
    * shuffles raw input rows once — by definition cheaper than the
    * CPU-bound work it parallelizes, which is the only context callers
    * may use it in. */
  /** The partition probe is only SAFE on scan-rooted plans: under AQE,
    * `queryExecution.toRdd` on a frame with an upstream Exchange
    * materializes every intermediate query stage at plan-BUILD time —
    * work that is then thrown away when the returned repartitioned plan
    * re-executes (ADVICE r21). Scan/checkpoint-rooted frames (a leaf,
    * optionally under projections/filters) have no stages to execute, so
    * the probe is free there; anything else skips the rebalance — an
    * already-shuffled frame is parallel by construction. */
  private def scanRooted(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
      case p: org.apache.spark.sql.catalyst.plans.logical.Project       => scanRooted(p.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter        => scanRooted(f.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => scanRooted(s.child)
      // coalesce (shuffle=false) introduces no query stage — probing it
      // is as safe as the scan under it; a shuffling repartition is not
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
          if !r.shuffle => scanRooted(r.child)
      case _ => false
    }

  def rebalanceForCpu(df: DataFrame): DataFrame = {
    val spark  = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // streaming frames have no inspectable partitioning at build time (and
    // `.rdd` would throw); micro-batch sources size their own splits
    if (df.isStreaming || !scanRooted(df.queryExecution.analyzed)) return df
    // `df.queryExecution.toRdd` inspects the CACHED physical plan without
    // `df.rdd`'s extra deserializer round — `.rdd` wraps the plan in a new
    // Dataset and plans it a second time on every call, a cost this
    // build-time probe was paying even on the common no-op path
    val parts = df.queryExecution.toRdd.getNumPartitions
    if (parts * 2 < target) df.repartition(target) else df
  }

  /** [[rebalanceForCpu]] keyed on a (near-)unique column: HASH
    * partitioning instead of round-robin, which skips the deterministic
    * per-partition pre-sort every keyless `repartition(n)` pays
    * (`spark.sql.execution.sortBeforeRepartition`, needed so retried
    * round-robin tasks reproduce their row→partition assignment — hash
    * partitioning is deterministic by construction, guide §2.5). Measured
    * r21: the pre-sort of a 600k-row fixture partition cost more than the
    * single-core aggregation it parallelized (c12_approx_distinct 1.5 →
    * 3.1 s keyless, 1.1 s keyed). The key must be high-cardinality
    * (20-100× the partition count) or the hash spread itself skews. */
  def rebalanceForCpuBy(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark  = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.isStreaming || !scanRooted(df.queryExecution.analyzed)) return df
    val parts = df.queryExecution.toRdd.getNumPartitions
    if (parts * 2 < target) df.repartition(target, key) else df
  }

  def region(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "region")
  def nation(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "nation")
  def customer(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "customer")
  def supplier(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "supplier")
  def part(spark: SparkSession, sf: String): DataFrame     = table(spark, sf, "part")
  def orders(spark: SparkSession, sf: String): DataFrame   = table(spark, sf, "orders")
  def lineitem(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "lineitem")
  def documents(spark: SparkSession, sf: String): DataFrame  = table(spark, sf, "documents")
  def embeddings(spark: SparkSession, sf: String): DataFrame = table(spark, sf, "embeddings")

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * fixture generations, and the loader tolerates both by dispatching on
    * the READ schema (one cheap footer inspection, no data pass):
    *
    *  - parquet `TIMESTAMP(NANOS)` (early fixtures): Spark's schema
    *    converter rejects it outright ([PARQUET_TYPE_ILLEGAL]), so we read
    *    nanos as raw longs (`spark.sql.legacy.parquet.nanosAsLong`) and
    *    convert to µs `TimestampType` with integer division (`DIV`, exact
    *    on longs — a double divide would corrupt µs digits at 1.7e18
    *    magnitudes). Floor division matches DuckDB's ns→µs truncation.
    *  - parquet `TIMESTAMP(MICROS, isAdjustedToUTC=false)` (current
    *    fixtures): Spark reads `TIMESTAMP_NTZ`; a cast to `TimestampType`
    *    under the UTC session zone preserves the wall-clock digits and
    *    keeps every downstream window/watermark/interval operator on the
    *    instant type they expect.
    *
    * The `nanosAsLong` flag is session configuration, not per-query state:
    * it is set where sessions are built ([[graft.GraftSession.local]], and
    * [[graft.SparkEntry.entry]] for the driver-owned session) so query
    * functions stay side-effect-free (SURVEY §7.5). [[ensureNanosConf]] is
    * that one idempotent knob; it is harmless when the fixture is µs. */
  def ensureNanosConf(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def events(spark: SparkSession, sf: String): DataFrame = {
    val raw = table(spark, sf, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Run independent offline-artifact build units concurrently (guide
    * §2.6 "overlap independent jobs"): Spark's FIFO scheduler back-fills
    * the tail of one build's job with the next build's tasks, so the
    * session-level artifact phase stops paying each build's driver gaps
    * and straggler tails sequentially. Each unit must be internally
    * ordered (a unit is the dependency chain, e.g. IVF centroids → IVFPQ)
    * and units must touch disjoint artifact keys/paths — the callers
    * partition their builders exactly that way. Fail-fast: the first
    * failing unit propagates its own exception after the pool drains.
    * Parallelism is deliberately small (guide: 2-3 in flight is plenty)
    * and env-tunable for bigger clusters (SPARK_GRAFT_BUILD_PAR). */
  def runBuildUnits(units: Seq[() => Unit]): Unit =
    runNamedBuildUnits(units.zipWithIndex.map { case (u, i) => s"unit-$i" -> u })

  /** [[runBuildUnits]] with per-unit labels: each unit's wall seconds go
    * to stderr, so the artifact phase's critical path (the longest
    * dependency chain) stays measurable — callers list the known-longest
    * units FIRST, which is what bounds makespan under a fixed pool. */
  def runNamedBuildUnits(units: Seq[(String, () => Unit)]): Unit = {
    // Default parallelism is SCALE-ADAPTIVE (cores/4, clamped to [2, 8]):
    // each unit is itself a parallel Spark job, so the pool only needs
    // enough lanes to cover driver gaps and stage tails — measured r22 at
    // 32 cores: 4→~64 s, 6→43 s, 8→26-55 s, 12→39 s (regresses: full
    // oversubscription), so 8 lanes at 32 cores and 2 at the driver's
    // 8-cpu scaling run. SPARK_GRAFT_BUILD_PAR overrides for clusters.
    val defaultPar = math.min(8, math.max(2,
      scala.util.Try(org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism / 4).getOrElse(4)))
    val par = math.max(1,
      sys.env.get("SPARK_GRAFT_BUILD_PAR").map(_.toInt).getOrElse(defaultPar))
    def timed(name: String, u: () => Unit): Unit = {
      val t0 = System.nanoTime()
      u()
      System.err.println(
        f"[artifacts] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    if (par == 1 || units.size <= 1) { units.foreach { case (n, u) => timed(n, u) }; return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val fs = units.map { case (n, u) =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = timed(n, u) })
      }
      fs.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }
}
