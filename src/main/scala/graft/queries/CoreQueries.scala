package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Cdc, SkewJoin}
import graft.tables.{Tables, Warehouse}

/** Relational core (SURVEY.md §2.C C1–C32): the verification surface the
  * DuckDB oracle hash-compares. Everything is declarative DataFrame API so
  * Catalyst's pushdown / pruning / join-selection / partial-agg / top-k
  * physical planning applies for free (SURVEY.md §4.2).
  *
  * Oracle-parity conventions (SURVEY.md §7.4.1):
  *  - Double aggregation goes through DECIMAL(18,4): exact, order-independent
  *    sums on both engines, cast back to double for a stable schema.
  *  - Averages are expressed as decimal-sum/count, never engine `avg`.
  *  - Every query carries a total ORDER BY over non-null keys.
  *  - Derived integers are cast to BIGINT on both sides (Spark year() is
  *    int32, DuckDB's is int64 — schema compare would trip).
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private val dec = DecimalType(18, 4)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
  private def davg(c: Column): Column = dsum(c) / count(c)

  // Exactness guard for BIGINT-moment aggregations: the long-moment trick
  // is only valid on integral values — on a fraction, Spark's cast
  // TRUNCATES while DuckDB's CAST AS BIGINT ROUNDS, so the engines would
  // diverge silently and both would compute biased moments. Fail loudly
  // instead; one double compare per row, stays in codegen.
  private def integralLong(c: Column): Column =
    when(c === floor(c), c.cast("long"))
      .otherwise(raise_error(concat(lit("non-integral value in BIGINT-moment agg: "), c.cast("string"))).cast("long"))

  /** The orders-derived changelog all c38 CDC queries share. */
  private def cdcChangelog(s: SparkSession, sf: String): DataFrame =
    Tables
      .orders(s, sf)
      .select(
        col("o_custkey").as("c_custkey"),
        concat(lit("upd#"), col("o_orderkey")).as("c_name"),
        (col("o_custkey") % 25).cast("int").as("c_nationkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_orderdate").as("chg_ts"),
        col("o_orderkey").as("chg_seq"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"))

  // The partitioned CDC store as a SESSION ARTIFACT (the IVF-index
  // discipline): c38_cdc_partitioned measures the MERGE writes themselves
  // and rebuilds unconditionally at this same path (deleted first, see
  // freshStore) — while the feed/lookup queries measure SERVING against
  // the built store, not a rebuild.
  private val cdcStores = scala.collection.concurrent.TrieMap.empty[String, String]
  private def cdcStoreFor(s: SparkSession, sf: String): String =
    cdcStores.getOrElseUpdate(sf, buildCdcStore(s, sf))

  /** A board CDC store's path under the temp dir, `graft_<name>_<sf>`. */
  private def storePath(name: String, sf: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_" + sf.replaceAll("[^A-Za-z0-9._-]", "_")

  /** [[storePath]], deleted first: every board store is built from
    * nothing, so a build never replays over what an earlier run (or a
    * tree with another on-disk format) left at the same path. */
  private def freshStore(s: SparkSession, name: String, sf: String): String = {
    val store = storePath(name, sf)
    val p     = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    store
  }

  /** The session artifacts as (name, estimated seconds, thunk) units for
    * the concurrent artifact phase — same contract as
    * [[LlmQueries.prebuildUnits]] (guide §2.6): independent offline
    * builds writing disjoint store paths / catalog names; the one real
    * dependency — the feed fixture reads the CDC state store — stays a
    * sequential chain inside its unit. Registry maps (CdcCatalog,
    * Cdc.mergeKeyRegistry, the Warehouse memos) are concurrent; catalog
    * DDL goes through the synchronized SessionCatalog. Contents are
    * identical to the sequential build. Estimates: r22 sf0.1
    * measurements (ranking only). */
  private[queries] def prebuildUnits(
      s: SparkSession, sf: String): Seq[(String, Double, () => Unit)] = Seq[(String, Double, () => Unit)](
    // Compacted-feed fixture: self-contained 3-version store + its own
    // feed directory (c38_cdc_feed_compact serves through the segment).
    ("cdc-compact", 14.0, () => { compactFeedTableFor(s, sf); () }),
    // Split store (split + native touch written once; c38_cdc_split
    // measures serving through the mixed legacy/native layout).
    ("cdc-split",   10.0, () => { splitTableFor(s, sf); () }),
    // CDC state store, then the feed fixture that serves off it
    // (c38_cdc_feed_table materializes the store's v0→v1 CDF).
    ("cdc+feed",    10.0, () => { cdcStoreFor(s, sf); feedTableFor(s, sf); () }),
    // Bucket-aligned activity rollup store (c38_cdc_spj's second side).
    ("cdc-activity", 8.0, () => { cdcActivityStoreFor(s, sf); () }),
    // Bucketed fact-table twins + catalog statistics (the repeated-join
    // artifact): written once per corpus in production, so the c03/c37
    // serving queries measure the exchange-free join, not the write.
    ("warehouse",    7.0, () => { Warehouse.analyze(s, sf); () }),
    // Merge-on-read store (delta commit written once; c38_cdc_mor
    // measures the catalog scan's read-time fold).
    ("cdc-mor",      6.5, () => { morTableFor(s, sf); () })
  )

  private def buildCdcStore(s: SparkSession, sf: String): String = {
    val store = freshStore(s, "cdcstore", sf)
    val changelog = cdcChangelog(s, sf)
    val cut = to_date(lit("1995-06-01"))
    val ord = Seq(col("chg_ts"), col("chg_seq"))
    Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") < cut),
      Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, nBuckets = 16, id = 0L)
    Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") >= cut),
      Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, nBuckets = 16, id = 1L)
    store
  }

  /** The MERGE-ON-READ twin of [[buildCdcStore]] at `store`: same batch
    * split, but batch 1 is a DELTA COMMIT — per-bucket changelog
    * survivors, zero base rewrites (operators/Cdc.scala morCommit). */
  private def buildMorStore(s: SparkSession, sf: String, store: String): String = {
    val changelog = cdcChangelog(s, sf)
    val cut = to_date(lit("1995-06-01"))
    val ord = Seq(col("chg_ts"), col("chg_seq"))
    Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") < cut),
      Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, nBuckets = 16, id = 0L)
    Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") >= cut),
      Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, nBuckets = 16, id = 1L,
      casCommit = true, morCommit = true)
    store
  }

  /** Session-artifact MoR store served through the catalog (the DSv2
    * fold path) — built once per sf, registered with `morDml = true`. */
  private val morTables = scala.collection.concurrent.TrieMap.empty[String, String]
  /** The MoR store's on-disk location for `sf` — ONE definition shared by
    * the builder and [[partitionsOracleSql]] (a drifted duplicate would
    * point the oracle at a stale or nonexistent directory). */
  private def morStorePath(sf: String): String = storePath("cdcmor", sf)
  private def morTableFor(s: SparkSession, sf: String): String =
    morTables.getOrElseUpdate(sf, {
      val store = freshStore(s, "cdcmor", sf)
      buildMorStore(s, sf, store)
      val t = "cdc_mor_" + sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      graft.sources.cdc.CdcCatalog.register(t, store, Seq("c_custkey"), 16,
        trustStringStats = true, morDml = true)
      s"graft.$t"
    })

  /** Session-artifact SPLIT store: the copy-on-write merge history built
    * at 16 buckets, then [[graft.operators.Cdc.splitBuckets]] to 32 (one
    * metadata-only commit — children serve slices of their parents'
    * files), then a no-op-content CoW touch that rewrites a few children
    * NATIVELY so the serving scan exercises the mixed legacy/native
    * layout a real store lives in between a split and its compaction.
    * Registered as a catalog table; content identical to the unchanged
    * CdcMergeOracle by construction. */
  private val splitTables = scala.collection.concurrent.TrieMap.empty[String, String]
  private def splitTableFor(s: SparkSession, sf: String): String =
    splitTables.getOrElseUpdate(sf, {
      val store = freshStore(s, "cdcsplit", sf)
      val changelog = cdcChangelog(s, sf)
      val cut = to_date(lit("1995-06-01"))
      val ord = Seq(col("chg_ts"), col("chg_seq"))
      Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") < cut),
        Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, 16, 0L)
      Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") >= cut),
        Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, 16, 1L)
      Cdc.splitBuckets(s, store) // 16 -> 32, zero data files touched
      import s.implicits._
      // rewrite the children keys 1..50 hash to, with their CURRENT rows
      // (content no-op, layout touch) at a recency above the whole log
      val touch = Cdc.lookupKeys(s, store, Seq("c_custkey"),
          (1L to 50L).toDF("c_custkey"), 32)
        .withColumn("chg_ts", to_date(lit("2999-01-01")))
        .withColumn("chg_seq", lit(Long.MaxValue))
        .withColumn("op", lit("U"))
      Cdc.processPartitionedBatch(touch,
        Cdc.readPartitionedSnapshot(s, store).limit(0),
        Seq("c_custkey"), ord, col("op"), store, 32, 3L)
      val t = "cdc_split_" + sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      graft.sources.cdc.CdcCatalog.register(t, store, Seq("c_custkey"), 32,
        trustStringStats = true)
      s"graft.$t"
    })

  // A SECOND partitioned store, bucket-aligned with the first (same key
  // domain, same nBuckets): a per-customer order-activity rollup whose
  // maintainer refreshes the full aggregate for customers the post-cut
  // orders touched — the upstream shape of every "metrics store keyed
  // like the state store" pairing. Exists so c38_cdc_spj can join the
  // two stores through the DSv2 catalog with ZERO exchange
  // (storage-partitioned join; sources/cdc/CdcCatalog.scala).
  private val activityStores = scala.collection.concurrent.TrieMap.empty[String, String]
  private def cdcActivityStoreFor(s: SparkSession, sf: String): String =
    activityStores.getOrElseUpdate(sf, {
      val store = freshStore(s, "cdcactivity", sf)
      val cut = to_date(lit("1995-06-01"))
      val orders = Tables.orders(s, sf)
      def rollup(of: DataFrame): DataFrame = of.groupBy("o_custkey")
        .agg(count(lit(1)).as("order_cnt"), dsum(col("o_totalprice")).as("total_spend"))
      val seed = rollup(orders.filter(col("o_orderdate") < cut))
      val asLog = (df: DataFrame) =>
        df.withColumn("seq", lit(1L)).withColumn("op", lit("U"))
      // batch 0 materializes the seed (empty changelog of the log shape)
      Cdc.processPartitionedBatch(asLog(seed.limit(0)), seed,
        Seq("o_custkey"), Seq(col("seq")), col("op"), store, nBuckets = 16, id = 0L)
      // batch 1 upserts refreshed FULL aggregates for touched customers
      val touched = orders.filter(col("o_orderdate") >= cut).select("o_custkey").distinct()
      Cdc.processPartitionedBatch(asLog(rollup(orders.join(touched, "o_custkey"))), seed,
        Seq("o_custkey"), Seq(col("seq")), col("op"), store, nBuckets = 16, id = 1L)
      store
    })

  /** Register both stores in the `graft` DSv2 catalog; returns the two
    * table names. Idempotent (register overwrites with identical defs). */
  private def spjTablesFor(s: SparkSession, sf: String): (String, String) = {
    val t = sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val a = s"cdc_state_$t"
    val b = s"cdc_activity_$t"
    // trustStringStats: these stores are written solely by the engine's
    // own non-truncating writers, the documented-safe case for string
    // min/max footer pushdown — a PER-STORE decision, not a session-wide
    // toggle that would leak onto stores with unknown writers
    graft.sources.cdc.CdcCatalog.register(a, cdcStoreFor(s, sf), Seq("c_custkey"), 16,
      trustStringStats = true)
    graft.sources.cdc.CdcCatalog.register(b, cdcActivityStoreFor(s, sf), Seq("o_custkey"), 16,
      trustStringStats = true)
    (s"graft.$a", s"graft.$b")
  }

  /** The artifact store's change feed MATERIALIZED and registered as a
    * catalog FEED table (sources/cdc/CdcFeedScan.scala): one committed
    * feed version — the v0→v1 CDF — served through the DSv2 read path.
    * Idempotent per sf (overwrite + TrieMap cache). */
  private val feedTables = scala.collection.concurrent.TrieMap.empty[String, String]
  private def feedTableFor(s: SparkSession, sf: String): String =
    feedTables.getOrElseUpdate(sf, {
      val store = cdcStoreFor(s, sf)
      val feed = s"${store}_feed"
      Cdc.changesBetweenCdf(s, store, 0L, 1L, Seq("c_custkey"))
        .write.mode("overwrite").parquet(s"$feed/v=1")
      val t = "cdc_feed_" + sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      graft.sources.cdc.CdcCatalog.registerFeed(t, store, feed, trustStringStats = true)
      s"graft.$t"
    })

  // A THREE-version store whose two feed versions are COMPACTED into one
  // segment (Cdc.compactFeed) — the c38_cdc_feed_compact fixture: the
  // catalog feed table must serve identical CDF rows through the segment
  // as it would through the fine-grained v= dirs (the oracle replays both
  // diffs in SQL and never sees the layout).
  private val compactFeedTables = scala.collection.concurrent.TrieMap.empty[String, String]
  private def compactFeedTableFor(s: SparkSession, sf: String): String =
    compactFeedTables.getOrElseUpdate(sf, {
      val store = freshStore(s, "cdccompact", sf)
      val changelog = cdcChangelog(s, sf)
      val d1 = to_date(lit("1994-06-01"))
      val d2 = to_date(lit("1996-06-01"))
      val ord = Seq(col("chg_ts"), col("chg_seq"))
      Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") < d1),
        Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, 16, 0L)
      Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") >= d1 && col("chg_ts") < d2),
        Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, 16, 1L)
      Cdc.processPartitionedBatch(changelog.filter(col("chg_ts") >= d2),
        Tables.customer(s, sf), Seq("c_custkey"), ord, col("op"), store, 16, 2L)
      val feed = s"${store}_feed"
      Cdc.changesBetweenCdf(s, store, 0L, 1L, Seq("c_custkey"))
        .write.mode("overwrite").parquet(s"$feed/v=1")
      Cdc.changesBetweenCdf(s, store, 1L, 2L, Seq("c_custkey"))
        .write.mode("overwrite").parquet(s"$feed/v=2")
      Cdc.compactFeed(s, feed, segmentSize = 2, keepRecentSingles = 0)
      require(Cdc.feedSegments(s, feed) == Seq((1L, 2L)),
        s"compaction fixture did not compact: ${Cdc.feedSegments(s, feed)}")
      val t = "cdc_feedcmp_" + sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      graft.sources.cdc.CdcCatalog.registerFeed(t, store, feed, trustStringStats = true)
      s"graft.$t"
    })

  val defs: Map[String, Q] = Map(
    // C1: predicate zoo — between, isin, comparison, like, null-safe eq.
    "c01_filter_predicates" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .filter(
          col("l_quantity").between(10, 20) &&
            col("l_returnflag").isin("A", "N") &&
            col("l_shipdate") < lit("2000-01-01").cast("timestamp") &&
            col("l_linestatus").like("F%") &&
            (col("l_returnflag") <=> "A" || col("l_returnflag") <=> "N")
        )
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures at
        // sf>=0.1 — total-order over every output column so tied rows
        // can't straddle engines differently.
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")),

    // C2: expression evaluation in projections.
    "c02_project_expr" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .as("charge")
        )
        .orderBy("l_orderkey", "l_linenumber", "disc_price", "charge")),

    // C3: inner equi-join + aggregation (shuffle-hash/SMJ chosen by Catalyst,
    // AQE re-plans at runtime).
    "c03_join_inner" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")),

    // C3 (skew path): the fact-vs-dim enrich join routed through
    // SkewJoin's salted form — each hot key splits across 8 salt
    // sub-partitions, the dim side replicates 8× (cheap: it's the small
    // side) — for the joins AQE's skew handling can't see (hot-key
    // enrich, LSH buckets). The oracle is the PLAIN join: salting must
    // be row-identical, routing only, and this query keeps that
    // guarantee on the driver's board, not just in SkewJoinSpec.
    "c03_join_salted" -> ((s, sf) =>
      SkewJoin
        .saltedInnerJoin(
          Tables.events(s, sf),
          Tables.customer(s, sf).select(col("c_custkey"), col("c_mktsegment")),
          col("user_id"), col("c_custkey"), factor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("c_mktsegment")),

    // C3 (bucketed-artifact path): the SAME join as c03_join_inner, but
    // over the warehouse's bucketed twins (`bucketBy(16, orderkey)` +
    // `sortBy`, one file per bucket — tables/Warehouse.scala). The scan
    // itself reports HashPartitioning on the join key and per-file sort
    // order, so the SortMergeJoin needs ZERO Exchange and ZERO Sort on
    // either side (PlanSpec pins both). This is the 100 TB repeated-join
    // lever: a fact table joined on the same key by many queries a day
    // pays its shuffle ONCE, at write time. `hint("merge")` pins SMJ so
    // the tiny sf fixtures can't broadcast away the very plan shape this
    // query exists to serve; at real scale neither side is broadcastable
    // and SMJ is what Catalyst picks anyway. Oracle = the plain
    // c03_join_inner SQL: bucketing must be layout-only, row-identical.
    "c03_join_bucketed" -> ((s, sf) => {
      val (ord, li) = Warehouse.bucketedPair(s, sf)
      s.table(ord)
        .hint("merge")
        .join(s.table(li), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // C4: left outer join, preserving order-less customers.
    "c04_join_left" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(Tables.orders(s, sf), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("order_cnt"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spend")
        )
        .orderBy("c_custkey")),

    // C4: full outer join on disjoint-ish aggregates of the same key space.
    "c04_join_full" -> ((s, sf) => {
      val big = Tables
        .orders(s, sf)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("big_cnt"))
      val urgent = Tables
        .orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("urgent_cnt"))
      big
        .withColumnRenamed("o_custkey", "k1")
        .join(urgent.withColumnRenamed("o_custkey", "k2"), col("k1") === col("k2"), "full")
        .select(
          coalesce(col("k1"), col("k2")).as("custkey"),
          coalesce(col("big_cnt"), lit(0L)).as("big_cnt"),
          coalesce(col("urgent_cnt"), lit(0L)).as("urgent_cnt")
        )
        .orderBy("custkey")
    }),

    // C5: left-semi — customers having a qualifying order.
    "c05_join_semi" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(
          Tables.orders(s, sf).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"),
          "left_semi"
        )
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // C5: left-anti — customers with no large order.
    "c05_join_anti" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(
          Tables.orders(s, sf).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"),
          "left_anti"
        )
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // C5+C10 composite — TPC-H Q18 shape (large-volume customer): the
    // HAVING subquery becomes a semi-join pushed onto orders BEFORE the
    // fact-fact join, so only the 46-odd big orders' lineitems flow into
    // the final aggregation. Both lineitem passes are map-side-combined
    // hash aggs on the same join key.
    "c05_tpch_q18" -> ((s, sf) => {
      val li = Tables.lineitem(s, sf)
      val big = li
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("q"))
        .filter(col("q") > 300.0)
        .select(col("l_orderkey").as("__big"))
      val bigOrders =
        Tables.orders(s, sf).join(big, col("o_orderkey") === col("__big"), "left_semi")
      Tables
        .customer(s, sf)
        .join(bigOrders, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(
          col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // C5 composite — TPC-H Q21 shape (suppliers who kept orders waiting),
    // adapted to the fixture's columns: "late" = shipped >60 days after
    // the order date on a failed order. One correlated EXISTS (another
    // supplier touched the order) and one NOT EXISTS (no OTHER supplier
    // was also late) — the classic semi+anti pair over the same
    // self-referencing fact slice, all on the l_orderkey shuffle key.
    "c05_tpch_q21" -> ((s, sf) => {
      val f = Tables.orders(s, sf)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val ll = Tables.lineitem(s, sf)
        .join(f, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val l1 = ll.filter(col("late"))
      val withOther = l1.join(
        ll.select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("o2_supp")).distinct(),
        col("l_orderkey") === col("o2_key") && col("l_suppkey") =!= col("o2_supp"),
        "left_semi")
      val waiting = withOther.join(
        l1.select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("o3_supp")).distinct(),
        col("l_orderkey") === col("o3_key") && col("l_suppkey") =!= col("o3_supp"),
        "left_anti")
      waiting
        .join(broadcast(Tables.supplier(s, sf)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // C6: star join with explicit broadcast of the bounded dims — verified
    // to plan BroadcastHashJoin in PlanSpec.
    "c06_join_broadcast" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(broadcast(Tables.nation(s, sf)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, sf)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cust_cnt"), dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy("r_name", "n_name")),

    // C7: theta (non-equi) join — broadcast nested loop on the small side.
    // C7: theta (inequality) join — "how many customers out-balance each
    // supplier". r21 (guide §1.2/§3): the literal form is a nested-loop
    // over |S|×|C| pairs (the sf1 soak measured it 31× per 10× rows —
    // quadratic, the one shape that cannot scale). Rewritten as the
    // classic BANDED inequality join, result-identical:
    //   bucket = floor(acctbal) — value-bounded (~11k buckets over the
    //   TPC-H acctbal domain at ANY corpus size, a dimension table);
    //   richer(s) = customers in strictly-higher buckets (suffix sum
    //   over the bucket histogram, built over the union of both sides'
    //   buckets so every supplier bucket resolves; the only window runs
    //   over the value-bounded histogram) + the strict compare inside
    //   s's own bucket (equi-join on bucket — Σ|S_b|·|C_b| pairs, never
    //   |S|×|C|). floor(c) > floor(s) ⟹ c > s and floor(c) < floor(s)
    //   ⟹ c ≤ s, so bucket routing loses nothing; equal buckets compare
    //   exactly. Inner-join semantics kept: suppliers with zero richer
    //   customers emit no row. Oracle (plain theta join in DuckDB)
    //   unchanged — hash-equality pins the rewrite.
    "c07_join_theta" -> ((s, sf) => {
      val cust = Tables.customer(s, sf)
        .filter(col("c_acctbal").isNotNull)
        .select(col("c_acctbal"), floor(col("c_acctbal")).cast("long").as("b"))
      val supp = Tables.supplier(s, sf)
        .filter(col("s_acctbal").isNotNull)
        .select(col("s_suppkey"), col("s_acctbal"), floor(col("s_acctbal")).cast("long").as("b"))
      val hist = cust.select(col("b"), lit(1L).as("n"))
        .unionByName(supp.select(col("b"), lit(0L).as("n")))
        .groupBy(col("b"))
        .agg(sum(col("n")).as("n"))
      // suffix count: customers in buckets STRICTLY above b (histogram is
      // value-bounded — this window is dimension-sized at any scale)
      val wSuf = Window.orderBy(col("b").desc).rowsBetween(Window.unboundedPreceding, -1)
      val suffix = hist
        .withColumn("n_gt", coalesce(sum(col("n")).over(wSuf), lit(0L)))
        .select(col("b"), col("n_gt"))
      val sameBucket = supp
        .join(cust, Seq("b"))
        .filter(col("c_acctbal") > col("s_acctbal"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_same"))
      supp
        .join(broadcast(suffix), Seq("b"))
        .join(sameBucket, Seq("s_suppkey"), "left")
        .select(
          col("s_suppkey"),
          (col("n_gt") + coalesce(col("n_same"), lit(0L))).as("richer_customers"))
        .filter(col("richer_customers") > 0)
        .orderBy("s_suppkey")
    }),

    // C8: cross join (bounded 5×25 dims).
    "c08_join_cross" -> ((s, sf) =>
      Tables
        .region(s, sf)
        .crossJoin(Tables.nation(s, sf))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")),

    // C9: as-of join — latest order at-or-before each event for the event's
    // user, via the generic AsOfJoin operator (join + windowed rank; ties
    // broken by o_orderkey desc for determinism).
    "c09_asof_join" -> ((s, sf) => {
      val ev = Tables.events(s, sf).filter(col("event_id") % 20 === 0)
      AsOfJoin
        .asOf(
          ev,
          Tables.orders(s, sf),
          leftId = col("event_id"),
          leftKey = col("user_id"),
          rightKey = col("o_custkey"),
          leftTime = col("ts"),
          rightTime = col("o_orderdate"),
          tieBreak = Seq(col("o_orderkey").desc)
        )
        .select(col("event_id"), col("ts"), col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id")
    }),

    // C9 (tolerance): the as-of join with a staleness bound (pandas
    // merge_asof semantics) — a match older than the bound is no match.
    // The fixture's clocks are ~8200–9800 days apart (2024 events vs
    // TPC-H 1992–98 orders), so the 8400-day bound genuinely splits the
    // matches (~half survive) instead of being decorative. Besides the
    // semantics, the bound is a join conjunct that shrinks candidate
    // fan-out: the unbounded form pairs each event with its user's whole
    // order history before the rank-1 prune, the bounded form only with
    // a window of it.
    "c09_asof_tolerance" -> ((s, sf) => {
      val ev = Tables.events(s, sf).filter(col("event_id") % 20 === 0)
      AsOfJoin
        .asOf(
          ev,
          Tables.orders(s, sf),
          leftId = col("event_id"),
          leftKey = col("user_id"),
          rightKey = col("o_custkey"),
          leftTime = col("ts"),
          rightTime = col("o_orderdate"),
          tieBreak = Seq(col("o_orderkey").desc),
          toleranceSeconds = Some(8400L * 24 * 3600)
        )
        .select(col("event_id"), col("ts"), col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id")
    }),

    // C9 (custom plan node): the SAME as-of semantics as c09_asof_join,
    // planned through the whole-operator Catalyst extension
    // (graft.plans.AsOfMergeJoin: custom LogicalPlan + Strategy +
    // SparkPlan) — a streaming sort-merge that never materializes the
    // per-key history blowup the join+window form pays. Identical output,
    // same oracle; plan asserted Window-free in AsOfJoinSpec.
    "c09_asof_merge" -> ((s, sf) => {
      val ev = Tables.events(s, sf).filter(col("event_id") % 20 === 0)
      graft.plans.AsOfMergeJoin
        .asOfMerge(
          ev,
          Tables.orders(s, sf)
            .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          tieBreak = Seq("o_orderkey"))
        .select(col("event_id"), col("ts"), col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id")
    }),

    // C9 (forward direction): each sampled event's NEXT purchase — the
    // user's earliest purchase event at-or-after the touchpoint, the
    // attribution query the backward form can't answer. Same rank-1
    // window plan (WindowGroupLimit asserted for the backward twin); the
    // fixture's order dates all predate the event feed, so the forward
    // lookup runs event→event rather than event→order.
    "c09_asof_forward" -> ((s, sf) => {
      val ev = Tables.events(s, sf).filter(col("event_id") % 20 === 0)
      val purchases = Tables.events(s, sf)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      AsOfJoin
        .asOfForward(
          ev,
          purchases,
          leftId = col("event_id"),
          leftKey = col("user_id"),
          rightKey = col("p_user"),
          leftTime = col("ts"),
          rightTime = col("p_ts"),
          tieBreak = Seq(col("p_id").asc)
        )
        .select(col("event_id"), col("ts"), col("p_id"), col("p_ts"))
        .orderBy("event_id")
    }),

    // C9 (nearest flavor): pandas merge_asof direction='nearest' — the
    // purchase closest in time to each sampled event, either direction,
    // equal distances broken backward (the earlier purchase), within a
    // ±2 h tolerance that both defines the semantics and bounds the
    // join's per-key candidate window at scale. Completes the as-of
    // direction family (backward / forward / tolerance / nearest).
    "c09_asof_nearest" -> ((s, sf) => {
      val ev = Tables.events(s, sf).filter(col("event_id") % 20 === 0)
      val purchases = Tables.events(s, sf)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      AsOfJoin
        .asOfNearest(
          ev,
          purchases,
          leftId = col("event_id"),
          leftKey = col("user_id"),
          rightKey = col("p_user"),
          leftTime = col("ts"),
          rightTime = col("p_ts"),
          tieBreak = Seq(col("p_id").asc),
          toleranceSeconds = Some(7200L)
        )
        .select(col("event_id"), col("ts"), col("p_id"), col("p_ts"))
        .orderBy("event_id")
    }),

    // C17 (time-RANGE flavor): sliding one-hour window per user over the
    // event stream — RANGE frame keyed on event-time microseconds, the
    // frame kind the ROWS queries above don't exercise (peers enter and
    // leave by VALUE distance, not row count). Epoch-µs on both engines:
    // unix_micros here, epoch_us in DuckDB — exact integers, no tz math.
    "c17_window_range_time" -> ((s, sf) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables
        .events(s, sf)
        .select(
          col("event_id"),
          col("user_id"),
          sum(col("value").cast(dec)).over(w).cast("double").as("hr_sum"),
          count(lit(1)).over(w).as("hr_cnt"))
        .orderBy("event_id")
    }),

    // C3+C6+C10+C19 composite — TPC-H Q3 shape: segment-filtered
    // customer⋈orders⋈lineitem, grouped revenue, top-10.
    "c03_tpch_q3" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, sf), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
        .filter(
          col("o_orderdate") < lit("1999-01-01").cast("timestamp") &&
            col("l_shipdate") > lit("1997-01-01").cast("timestamp")
        )
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)),

    // C3+C6 composite — TPC-H Q5 shape: full star join with broadcast dims,
    // revenue by nation, customer and supplier in the same nation.
    "c06_tpch_q5" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(Tables.orders(s, sf), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.supplier(s, sf)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, sf)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, sf)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))),

    // C4+C10+C19 composite — TPC-H Q10 shape: returned-lineitem revenue per
    // customer, top-20.
    "c04_tpch_q10" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(Tables.orders(s, sf), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // C10: hash aggregation, partial+final — TPC-H Q1 shape.
    "c10_agg_hash" -> ((s, sf) =>
      Tables
        // r22 (guide §2.5, the c10_agg_corr precedent): the single-row-
        // group fixture scans as ONE partition, so the decimal partial
        // aggregation ran on one core (profiled r22: taskSec ≈ wall).
        // Decimal sums are order-independent-exact → bit-identical result
        // (oracle pins it); no-op at real scale.
        .rebalanceForCpuBy(Tables.lineitem(s, sf), col("l_orderkey"))
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")),

    // C10: stddev/variance via exact integer moments — deterministic on both
    // engines (engine-native stddev is FP-order-dependent; see StatSpec for
    // the tolerance check against Spark's stddev_samp). l_quantity is
    // integral (1..50 in the fixtures), so the moments are exact BIGINT
    // sums — pure long arithmetic in whole-stage codegen, no per-row
    // decimal multiply-with-overflow-check (10x the median bench time in
    // round 2); the double cast happens once per group. `integralLong`
    // enforces the integrality assumption at runtime (see its scaladoc).
    "c10_agg_stats" -> ((s, sf) => {
      val s1 = col("s1l").cast("double")
      val s2 = col("s2l").cast("double")
      Tables
        .lineitem(s, sf)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(integralLong(col("l_quantity"))).as("s1l"),
          sum(integralLong(col("l_quantity") * col("l_quantity"))).as("s2l")
        )
        .select(
          col("l_returnflag"),
          col("n"),
          ((s2 - s1 * s1 / col("n")) / (col("n") - 1)).as("var_samp"),
          sqrt((s2 - s1 * s1 / col("n")) / (col("n") - 1)).as("stddev_samp")
        )
        .orderBy("l_returnflag")
    }),

    // C10: covariance/correlation via exact decimal moments — engine-native
    // corr/covar_samp are FP-order-dependent; the moment formula is
    // deterministic and identical on both engines.
    "c10_agg_corr" -> ((s, sf) =>
      // r21 (guide §2.5): the single-row-group fixture scans as ONE
      // partition, so the decimal-exact partial aggregation ran on one
      // core (profiled taskSec ≈ wall). Adaptive rebalance parallelizes
      // the partials; decimal sums are order-independent-exact, so the
      // result is bit-identical (oracle pins it). No-op at real scale.
      Tables
        .rebalanceForCpuBy(Tables.lineitem(s, sf), col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sx"),
          dsum(col("l_extendedprice")).as("sy"),
          dsum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
          dsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          dsum(col("l_extendedprice") * col("l_extendedprice")).as("syy")
        )
        .select(
          col("l_returnflag"),
          col("n"),
          // Moments are exact; the FINAL double arithmetic can still
          // differ by one ulp across engines (observed at sf0.001), so
          // both outputs round — 6 absorbs ulp noise at covar magnitudes,
          // 12 at corr's [-1, 1].
          round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6)
            .as("covar_samp"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))),
            12).as("corr")
        )
        .orderBy("l_returnflag")),

    // C10: exact percentiles by DISTRIBUTED SORT + RANK SELECTION, not the
    // `percentile` aggregate: that aggregate buffers every value per group
    // (an executor-OOM risk when one group holds billions of rows), while
    // a per-group sort spills gracefully and the selection touches only
    // the two rows bracketing each rank. Semantics identical: linear
    // interpolation at rank r = (n-1)p (the Spark-percentile / DuckDB
    // quantile_cont definition; rounded to absorb last-ulp divergence).
    //
    // r22 NOTE: a hierarchical two-pass rank (per-group min/max bucket
    // grid → local window per (group, bucket) → broadcast offset lift,
    // the Mixture.withPrefixBefore convention) was implemented and
    // MEASURED WORSE at sf0.1 (2.13 → 2.86 s targeted A/B, control-
    // normalized ~1.2×): the extra scan + two broadcast joins + 3×64
    // window groups cost more than the 3-way sort parallelism returns at
    // this scale. Reverted to the window form; the restructure remains
    // the right shape when a single group's sort stops fitting one task.
    "c10_percentile" -> ((s, sf) => {
      val wRank = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
      val wAll  = Window.partitionBy(col("l_returnflag"))
      val ranked = Tables
        .lineitem(s, sf)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        .withColumn("rn", row_number().over(wRank).cast("long") - 1L) // 0-based rank
        .withColumn("n", count(lit(1)).over(wAll))
      def pct(p: Double, name: String): Seq[Column] = {
        val r = (col("n") - 1L).cast("double") * p
        // the two bracketing values; max(when(...)) selects them without
        // a second shuffle (everything rides the existing group key)
        val lo = max(when(col("rn") === floor(r).cast("long"), col("v")))
        val hi = max(when(col("rn") === ceil(r).cast("long"), col("v")))
        val rr = (first(col("n")) - 1L).cast("double") * p
        Seq(round(lo + (rr - floor(rr)) * (hi - lo), 4).as(name))
      }
      ranked
        .groupBy(col("l_returnflag"))
        .agg(
          pct(0.25, "p25").head,
          (pct(0.5, "p50") ++ pct(0.75, "p75")): _*
        )
        .orderBy("l_returnflag")
    }),

    // C10 scale path: approx_percentile (mergeable quantile sketch,
    // bounded memory per group — exact `percentile` buffers every value
    // per group, an executor-memory risk at 100x the group size). Approx
    // by design → rows-only check; the rank-error bound vs the exact form
    // is asserted in LawsSpec.
    "c10_percentile_approx" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("p25"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.75, 10000)").as("p75")
        )
        .orderBy("l_returnflag")),

    // C11: distinct aggregation.
    "c11_agg_distinct" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("supp_cnt"),
          countDistinct(col("l_partkey")).as("part_cnt"),
          sum_distinct(col("l_quantity").cast(dec)).cast("double").as("qty_distinct_sum")
        )
        .orderBy("l_returnflag")),

    // C12: approximate distinct (HLL) — no oracle (approx by design);
    // driver records rows-only; ScalaTest asserts rsd bound vs exact.
    "c12_approx_distinct" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
        .orderBy("l_returnflag")),

    // C12 (scale path): DataSketches HLL with an explicit shard merge —
    // the re-aggregation pattern a 100 TB rollup needs: every shard keeps
    // a KB-sized sketch, later passes UNION sketches without touching
    // rows again (daily → monthly rollups, late shards, cross-DC merge).
    // Computes each flag's distinct-part estimate both ways — one direct
    // pass vs union of per-(flag, status) shard sketches. Merging is NOT
    // bitwise-reproducible (direct builds keep the sharper HIP estimator;
    // unions use the composite one, and register state near the
    // coupon→HLL mode boundary depends on sharding) — what the rollup
    // pattern guarantees is that every route lands inside the sketch's
    // error bound, so `agree` asserts direct and merged within 3%;
    // LawsSpec pins the full law on random re-shardings.
    // rows-only: DuckDB's approx sketch is a different implementation.
    "c12_hll_shard_merge" -> ((s, sf) => {
      val li = Tables.lineitem(s, sf)
      val direct = li
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), 12)).as("direct_estimate"))
      val merged = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey"), 12).as("sk"))
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("merged_estimate"))
      direct
        .join(merged, "l_returnflag")
        .select(
          col("l_returnflag"), col("direct_estimate"), col("merged_estimate"),
          (abs(col("direct_estimate") - col("merged_estimate")).cast("double")
            <= col("direct_estimate").cast("double") * 0.03).as("agree"))
        .orderBy("l_returnflag")
    }),

    // C13: rollup with grouping indicators.
    "c13_rollup" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status")
        )
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"),
          col("g_flag"),
          col("g_status")
        )
        .orderBy("g_flag", "g_status", "flag", "status")),

    // C13: cube variant.
    "c13_cube" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("cnt"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio")
        )
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"),
          col("g_status"),
          col("g_prio")
        )
        .orderBy("g_status", "g_prio", "status", "prio")),

    // C13: GROUPING SETS — the general form ROLLUP/CUBE specialize:
    // an explicit, non-hierarchical set list ((flag,status),(status),()),
    // through the SQL entry point (the DataFrame API only exposes the
    // rollup/cube shorthands).
    "c13_grouping_sets" -> ((s, sf) =>
      s.sql(s"""
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               count(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        FROM parquet.`$sf/lineitem.parquet`
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY g_flag, g_status, flag, status
      """)),

    // C14: global (no-group) aggregate.
    "c14_agg_global" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("l_quantity")).as("sum_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")
        )),

    // C15: ranking window functions, top-3 orders per customer.
    "c15_window_rank" -> ((s, sf) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables
        .orders(s, sf)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("nt")
        )
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // C15 (distribution ranks): percent_rank + cume_dist — the remaining
    // ANSI ranking functions. Both are functions of the ORDER-BY key's
    // rank only (tie order inside a peer group cannot change them), so
    // ordering on the raw price is engine-deterministic; the final
    // output order adds the key for the row-order compare.
    "c15_window_dist" -> ((s, sf) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
      Tables
        .orders(s, sf)
        .filter(col("o_orderkey") % 10 === 0)
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          col("o_totalprice"),
          round(percent_rank().over(w), 9).as("pct_rank"),
          round(cume_dist().over(w), 9).as("cume"))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    }),

    // C16: analytic window functions with explicit frames.
    "c16_window_analytic" -> ((s, sf) => {
      val w  = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables
        .orders(s, sf)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(wf).as("first_price"),
          last(col("o_totalprice")).over(wf).as("last_price")
        )
        .orderBy("o_custkey", "o_orderkey")
    }),

    // C17: frame-bounded window aggregates — running decimal sum + 3-row
    // moving average (explicit sum/count to dodge engine avg divergence).
    "c17_window_frame" -> ((s, sf) => {
      val w    = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val run  = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last3 = w.rowsBetween(-2, Window.currentRow)
      Tables
        .orders(s, sf)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          sum(col("o_totalprice").cast(dec)).over(run).cast("double").as("running_total"),
          (sum(col("o_totalprice").cast(dec)).over(last3).cast("double") /
            count(lit(1)).over(last3)).as("moving_avg3")
        )
        .orderBy("o_custkey", "o_orderkey")
    }),

    // C18: multi-key sort with explicit null placement.
    // C17 (numeric RANGE frame): value-based window bounds — peers within
    // ±1000 of each order's price, the "similar-priced cohort" stat that
    // ROWS frames cannot express (row offsets ignore value gaps).
    "c17_window_range_num" -> ((s, sf) => {
      val w = Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, 1000L)
      Tables
        .orders(s, sf)
        .filter(col("o_orderkey") % 5 === 0)
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          col("o_totalprice"),
          count(lit(1)).over(w).as("cohort_n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w).cast("double").as("cohort_sum"))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    }),

    "c18_sort_nulls" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("P")).as("st"))
        .orderBy(col("st").asc_nulls_first, col("o_orderkey").desc)
        .limit(50)),

    // C18 (clustering key): Morton/Z-order key over two part attributes —
    // the multi-dim file-clustering sort key (native codegen expression
    // graft_interleave_bits; Sinks.writeClustered is the write path whose
    // both-dimension file skipping SinksSpec demonstrates). The oracle
    // replays the identical mask-and-shift spread in ANSI SQL.
    "c18_zorder" -> ((s, sf) =>
      Tables
        .part(s, sf)
        .select(
          col("p_partkey"),
          graft.functions.ZOrder
            .interleaveBits(s, col("p_partkey"), col("p_size").cast("long"))
            .as("z"))
        .orderBy("p_partkey")),

    // C18 (3-D clustering key): the ternary Morton expression — the
    // multi-column Z-ORDER BY key (catalyst/Morton3Expression, 20 bits
    // per dimension, fused codegen). Oracle: the generated 60-term
    // shift-and-or twin evaluates the identical arithmetic in DuckDB.
    "c18_zorder3" -> ((s, sf) =>
      Tables
        .part(s, sf)
        .select(
          col("p_partkey"),
          graft.functions.ZOrder
            .morton3(s, col("p_partkey"), col("p_size").cast("long"),
              (col("p_partkey") % 997).cast("long"))
            .as("z3"))
        .orderBy("p_partkey")),

    // C18 (layout ROI): WHY z-order — simulate writing lineitem as 64
    // equal-z-range files under three layouts (z-order on (partkey,
    // suppkey), linear on partkey, natural arrival order), collect each
    // file's per-dimension zone map (min/max), and count the files a
    // reader must scan for a 2-D box predicate and a suppkey-only
    // predicate. The numbers ARE the partition-pruning story: linear
    // wins nothing on the secondary dimension, natural wins nothing
    // anywhere, z-order prunes on both. All integer arithmetic (`div`,
    // long interleave) so the oracle matches exactly; the only scalars
    // are the per-layout key bounds (the documented Z-order-bounds
    // pattern) via a broadcast 1-row frame, never a collect.
    "c18_zorder_skipping" -> ((s, sf) => {
      val nFiles = 64
      val li = Tables
        .lineitem(s, sf)
        .select(
          col("l_orderkey").as("ok"),
          col("l_partkey").as("lp"),
          col("l_suppkey").as("ls"))
        .withColumn("z", graft.functions.ZOrder.interleaveBits(s, col("lp"), col("ls")))
      val layouts = Seq(("linear_partkey", "lp"), ("natural", "ok"), ("zorder", "z"))
      layouts
        .map { case (name, k) =>
          val bounds = li.agg(min(col(k)).as("kmin"), max(col(k)).as("kmax"))
          li.crossJoin(broadcast(bounds))
            // The ×nFiles long multiply overflowed under ANSI at sf1,
            // where interleaved z values span ~2^62 (caught by the r21
            // full-board sf1 soak). Branch per layout on the key range:
            // long math when (range−1)·nFiles provably fits (every small
            // sf — and decimal per-row math costs ~1.2 s at sf0.1, so
            // the fast path matters), exact DECIMAL(38,0) floor-division
            // otherwise. Both branches compute the identical bucket.
            .withColumn("file",
              expr(
                s"""CASE WHEN kmax - kmin < ${Long.MaxValue / nFiles}L
                      THEN (($k - kmin) * $nFiles) div (kmax - kmin + 1)
                      ELSE CAST((CAST($k - kmin AS DECIMAL(38,0)) * $nFiles)
                                div (kmax - kmin + 1) AS BIGINT)
                    END"""))
            .groupBy(col("file"))
            .agg(
              min(col("lp")).as("min_p"), max(col("lp")).as("max_p"),
              min(col("ls")).as("min_s"), max(col("ls")).as("max_s"))
            .agg(
              count(lit(1)).as("files_total"),
              count(
                when(
                  col("min_p") <= 200 && col("max_p") >= 1
                    && col("min_s") <= 20 && col("max_s") >= 1,
                  lit(1))).as("files_box_scan"),
              count(when(col("min_s") <= 20 && col("max_s") >= 1, lit(1)))
                .as("files_suppkey_scan"))
            .select(lit(name).as("layout"), col("files_total"),
              col("files_box_scan"), col("files_suppkey_scan"))
        }
        .reduce(_ unionByName _)
        .orderBy("layout")
    }),

    // C19: top-k — plans TakeOrderedAndProject (no full sort at scale).
    "c19_topk" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // C20: union-all (bag) via unionByName with reordered columns.
    "c20_union" -> ((s, sf) => {
      val c = Tables.customer(s, sf).select(col("c_custkey").as("id"), lit("cust").as("src"))
      val p = Tables.supplier(s, sf).select(lit("supp").as("src"), col("s_suppkey").as("id"))
      c.unionByName(p).orderBy("src", "id")
    }),

    // C21: intersect (set semantics).
    "c21_intersect" -> ((s, sf) => {
      val f = Tables.orders(s, sf).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val o = Tables.orders(s, sf).filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      f.intersect(o).orderBy("k")
    }),

    // C21: except-all (bag semantics).
    "c21_except_all" -> ((s, sf) => {
      val all = Tables.orders(s, sf).select(col("o_custkey").as("k"))
      val f   = Tables.orders(s, sf).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      all.exceptAll(f).groupBy(col("k")).agg(count(lit(1)).as("cnt")).orderBy("k")
    }),

    // C21: intersect-all (bag semantics — each key kept min(multiplicity)
    // times, the counterpart to exceptAll's difference).
    "c21_intersect_all" -> ((s, sf) => {
      val f = Tables.orders(s, sf).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val o = Tables.orders(s, sf).filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      f.intersectAll(o).groupBy(col("k")).agg(count(lit(1)).as("cnt")).orderBy("k")
    }),

    // C22: distinct projection.
    "c22_distinct" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // C23: scalar + IN subqueries through the SQL entry point (parser →
    // same Catalyst pipeline; subqueries decorrelate to semi-joins).
    // Inline `parquet.` table refs keep the query fn side-effect-free
    // (no temp-view registration in the shared session; SURVEY §7.5).
    "c23_subquery" -> ((s, sf) =>
      s.sql(s"""
        SELECT o_orderkey, o_totalprice FROM parquet.`$sf/orders.parquet`
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
            FROM parquet.`$sf/orders.parquet`)
          AND o_custkey IN (
            SELECT c_custkey FROM parquet.`$sf/customer.parquet` WHERE c_acctbal > 5000)
        ORDER BY o_orderkey
      """)),

    // C23: LATERAL correlated subquery — per-customer top order through
    // the SQL entry point (decorrelates to a window/join under Catalyst).
    "c23_lateral" -> ((s, sf) =>
      s.sql(s"""
        SELECT c_custkey, t.o_orderkey AS top_orderkey, t.o_totalprice AS top_price
        FROM parquet.`$sf/customer.parquet`,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM parquet.`$sf/orders.parquet`
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
        ) t
        ORDER BY c_custkey
      """)),

    // C23 composite — TPC-H Q17 shape (small-quantity-order revenue):
    // correlated SCALAR-AVG subquery, the classic decorrelation pattern —
    // Catalyst rewrites it to a per-part aggregate + join; DuckDB runs the
    // correlated form directly. Adapted to the fixture's part columns
    // (no p_container → brand + size band). Exactness: the per-part avg
    // is an exact decimal sum divided in DOUBLE (one deterministic IEEE
    // op on identical inputs in both engines), so the `<` gate never
    // flips cross-engine; the revenue sum goes through DECIMAL(18,4).
    "c23_tpch_q17" -> ((s, sf) =>
      s.sql(s"""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM parquet.`$sf/lineitem.parquet` l, parquet.`$sf/part.parquet` p
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size < 15
          AND l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
            FROM parquet.`$sf/lineitem.parquet` l2
            WHERE l2.l_partkey = p_partkey)
      """)),

    // C5 composite — TPC-H Q4 shape (order-priority checking): a
    // date-windowed order slice semi-joined against a CORRELATED lineitem
    // predicate (shipped after the order date — the fixture has no
    // commit/receipt dates). The non-equi conjunct rides on the equi key,
    // so Catalyst still plans a hash LeftSemi on l_orderkey.
    "c05_tpch_q4" -> ((s, sf) => {
      val late = Tables
        .lineitem(s, sf)
        .select(col("l_orderkey").as("lk"), col("l_shipdate"))
      Tables
        .orders(s, sf)
        .filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .join(late, col("o_orderkey") === col("lk") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // C3 composite — TPC-H Q7 shape (volume shipping): the 6-table chain
    // with a DISJUNCTIVE nation-pair filter. Both nation lookups broadcast
    // (25 rows); the disjunction is applied post-join so it can't be pushed
    // into either dim alone — the classic case where the filter must live
    // above the join but the join keys stay hash-partitioned.
    "c03_tpch_q7" -> ((s, sf) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sn = broadcast(Tables.nation(s, sf).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val cn = broadcast(Tables.nation(s, sf).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      Tables
        .lineitem(s, sf)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, sf), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("snk"))
        .join(cn, col("c_nationkey") === col("cnk"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // C27 composite — TPC-H Q8 shape (national market share): conditional
    // NUMERATOR over an unconditional denominator, per order-year. Both
    // sums run through DECIMAL(18,4) so the final share is ONE double
    // division on identical operands in both engines. Customer region is a
    // broadcast SEMI (membership only); supplier nation is a broadcast
    // lookup (its name feeds the CASE).
    "c27_tpch_q8" -> ((s, sf) => {
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)
      val asiaNations = broadcast(
        Tables.nation(s, sf)
          .join(Tables.region(s, sf).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk")))
      val suppNation = broadcast(
        Tables.nation(s, sf)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      Tables
        .lineitem(s, sf)
        .join(broadcast(Tables.part(s, sf).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.customer(s, sf).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(asiaNations, col("c_nationkey") === col("cnk"), "left_semi")
        .join(Tables.supplier(s, sf).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0).cast(dec)))
            .cast("double") / sum(vol).cast("double")).as("mkt_share"))
        .orderBy("o_year")
    }),

    // C27 composite — TPC-H Q12 shape (shipping-mode priority counts):
    // join + CASE-conditional integer counts, exact longs on both engines.
    "c27_tpch_q12" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .join(Tables.lineitem(s, sf), col("o_orderkey") === col("l_orderkey"))
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy("l_returnflag")),

    // C14 composite — TPC-H Q14 shape (promo revenue): single-row global
    // ratio of a conditional decimal sum over the total decimal sum.
    "c14_tpch_q14" -> ((s, sf) => {
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)
      Tables
        .lineitem(s, sf)
        .filter(
          col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, sf)), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0).cast(dec))).cast("double") /
            sum(vol).cast("double")).as("promo_revenue"))
    }),

    // C23 composite — TPC-H Q15 shape (top supplier): an aggregated view
    // compared against its own MAX via a scalar subquery. The comparison
    // stays in DECIMAL (exact) — only the output casts to double.
    "c23_tpch_q15" -> ((s, sf) => {
      val rev = Tables
        .lineitem(s, sf)
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev
        .join(broadcast(top), col("rev_dec") === col("max_dec"))
        .join(broadcast(Tables.supplier(s, sf)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_dec").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // C11 composite — TPC-H Q16 shape (parts/supplier relationship):
    // distinct (part, supplier) pairs from the fact table (the fixture has
    // no partsupp), an anti-join NOT-IN against disqualified suppliers,
    // and a COUNT(DISTINCT) grouped by part attributes.
    "c11_tpch_q16" -> ((s, sf) => {
      // r22 NOTE: a keyed rebalance of the distinct's partial phase was
      // A/B'd and reverted — the added exchange cost more than the
      // single-core partial distinct it parallelized (the r21 keep/revert
      // line: sub-half-second single-core work loses to an extra
      // exchange at this scale).
      val ps = Tables.lineitem(s, sf).select(col("l_partkey"), col("l_suppkey")).distinct()
      val bad = Tables.supplier(s, sf).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_k"))
      ps
        .join(broadcast(bad), col("l_suppkey") === col("bad_k"), "left_anti")
        .join(broadcast(Tables.part(s, sf)), col("l_partkey") === col("p_partkey"))
        .filter(
          col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // C1 composite — TPC-H Q19 shape (discounted revenue): OR-of-conjuncts
    // join predicate. The equi conjunct (partkey) is common to all three
    // branches, so Catalyst extracts it and plans a hash join with the
    // disjunction as a post-join filter — the exact rewrite Q19 tests.
    "c01_tpch_q19" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .join(broadcast(Tables.part(s, sf)),
          col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
              col("l_quantity").between(1, 11)) ||
              (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
                col("l_quantity").between(10, 20)) ||
              (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
                col("l_quantity").between(20, 30))))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))),

    // C14 composite — TPC-H Q11 shape (important stock): grouped value
    // filtered against a SCALAR fraction of the global total. Both sides
    // of the gate derive from exact decimal sums cast to double, so the
    // comparison is one deterministic IEEE op per group in both engines.
    "c14_tpch_q11" -> ((s, sf) => {
      val value = Tables
        .lineitem(s, sf)
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * col("l_quantity")).cast(dec)).as("v_dec"))
      val total = value.agg(sum(col("v_dec")).as("t_dec"))
      value
        .join(broadcast(total),
          col("v_dec").cast("double") > col("t_dec").cast("double") * 0.0008)
        .select(col("l_partkey"), col("v_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // C5 composite — TPC-H Q22 shape (global sales opportunity): scalar
    // above-average gate (broadcast single row) + anti-join against orders,
    // grouped by a derived country code (last two digits of c_name — the
    // fixture has no phone column). "No order" is qualified to LARGE orders
    // (>300k): the synthetic fixture gives every customer at least one
    // order, so the literal Q22 anti-join would be vacuously empty.
    "c05_tpch_q22" -> ((s, sf) => {
      val avgBal = Tables
        .customer(s, sf)
        .filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(col("c_acctbal"))).as("ab"))
      Tables
        .customer(s, sf)
        .join(broadcast(avgBal), col("c_acctbal") > col("ab"))
        .join(
          Tables.orders(s, sf).filter(col("o_totalprice") > 300000.0)
            .select(col("o_custkey").as("ok")).distinct(),
          col("c_custkey") === col("ok"), "left_anti")
        .groupBy(expr("right(c_name, 2)").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("cntrycode")
    }),

    // C1+C14 composite — TPC-H Q6 shape (forecasting revenue change): the
    // pure scan-side query — every predicate pushes into the parquet scan,
    // one global decimal sum, no joins, no shuffle beyond the final
    // single-row agg. The query that measures raw scan throughput.
    "c01_tpch_q6" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    // C4+C10 composite — TPC-H Q13 shape (customer distribution): LEFT
    // OUTER join preserved through a per-customer count, then a SECOND
    // aggregation over the counts — the histogram-of-counts double-agg,
    // a plan shape nothing else on the board exercises.
    "c04_tpch_q13" -> ((s, sf) =>
      Tables
        .customer(s, sf)
        .join(Tables.orders(s, sf), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // C5 composite — TPC-H Q20 shape (potential part promotion): a
    // NESTED-AGGREGATE semi-join — suppliers qualify through a grouped
    // HAVING over their per-part shipped quantity of PROMO parts. The
    // aggregate runs BEFORE the semi-join (group-then-filter-then-semi),
    // the decorrelation Catalyst must preserve rather than re-executing
    // per supplier.
    "c05_tpch_q20" -> ((s, sf) => {
      val heavy = Tables
        .lineitem(s, sf)
        .join(broadcast(Tables.part(s, sf).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 100.0)
        .select(col("l_suppkey").as("hk"))
        .distinct()
      Tables
        .supplier(s, sf)
        .join(heavy, col("s_suppkey") === col("hk"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")
    }),

    // C23 composite — TPC-H Q2 shape (minimum-cost supplier): correlated
    // MIN over a joined relation, decorrelated to a per-part min + equi
    // join. The fixture has no partsupp, so the (part, supplier) cost
    // relation derives from lineitem (min extendedprice per pair — raw
    // stored values, so the min-equality gate is exact cross-engine).
    "c23_tpch_q2" -> ((s, sf) => {
      val eu = Tables
        .supplier(s, sf)
        .join(broadcast(Tables.nation(s, sf)
          .join(broadcast(Tables.region(s, sf).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = Tables
        .lineitem(s, sf)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
        .join(broadcast(Tables.part(s, sf).filter(col("p_size") === 15)
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      val euCost  = ps.join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
      val minCost = euCost.groupBy(col("p_partkey").as("mk")).agg(min(col("cost")).as("min_cost"))
      euCost
        .join(minCost, col("p_partkey") === col("mk") && col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // C3 composite — TPC-H Q9 shape (product-type profit): 5-table join
    // with a profit expression mixing fact and dimension columns, grouped
    // by supplier nation and order year. Cost proxy = 10% of retail price
    // per unit (no partsupp supplycost in the fixture).
    "c03_tpch_q9" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .join(broadcast(Tables.part(s, sf).filter(col("p_name").like("%gear%"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, sf).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, sf)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, sf).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(dsum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity") * lit(0.1)).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)),

    // C24: string function coverage.
    "c24_string_fns" -> ((s, sf) =>
      Tables
        .part(s, sf)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_type"), 1, 5).as("sub"),
          trim(concat(lit(" "), col("p_name"), lit(" "))).as("tr"),
          regexp_replace(col("p_type"), " ", "_").as("rep"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("rex"),
          length(col("p_name")).cast("long").as("len"),
          col("p_type").like("%BRASS%").as("is_brass"),
          element_at(split(col("p_name"), " "), 1).as("first_tok")
        )
        .orderBy("p_partkey")),

    // C24 (wave 2): pad/translate/repeat/reverse/levenshtein/split_part.
    "c24_string_fns2" -> ((s, sf) =>
      Tables
        .part(s, sf)
        .select(
          col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, "*").as("rp"),
          translate(col("p_type"), "AEIOU", "aeiou").as("tr"),
          repeat(lit("ab"), 3).as("rep3"),
          reverse(col("p_name")).as("rev"),
          levenshtein(col("p_brand"), lit("Brand#1")).cast("long").as("lev"),
          split_part(col("p_type"), lit(" "), lit(1)).as("head_word"),
          expr("left(p_name, 4)").as("l4"),
          expr("right(p_name, 4)").as("r4")
        )
        .orderBy("p_partkey")),

    // C25: date/time function coverage (derived ints cast to long).
    "c25_datetime_fns" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_trunc("month", col("o_orderdate")).as("mon"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym")
        )
        .orderBy("o_orderkey")),

    // C25 (wave 2): calendar functions — quarter/weeks/days, month clamp.
    "c25_datetime_fns2" -> ((s, sf) =>
      Tables
        .orders(s, sf)
        .select(
          col("o_orderkey"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow0"), // 0=Sunday, both engines
          weekofyear(col("o_orderdate")).cast("long").as("woy"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          last_day(col("o_orderdate")).as("eom"),
          add_months(col("o_orderdate"), 1).as("next_month"), // DATE on both sides
          ((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))) - (1995 * 12 + 1))
            .cast("long")
            .as("months_since")
        )
        .orderBy("o_orderkey")),

    // C26: math function coverage (deterministic set; ln rounded — see
    // SURVEY §7.4.1 on cross-engine libm).
    "c26_math_fns" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("rnd"),
          abs(col("l_extendedprice") * lit(-1.0)).as("absv"),
          ceil(col("l_discount") * 100).cast("long").as("ceil_disc"),
          floor(col("l_tax") * 100).cast("long").as("floor_tax"),
          sqrt(col("l_extendedprice")).as("sqrt_price"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          (col("l_orderkey") % 7).as("mod7"),
          signum(col("l_discount") - lit(0.05)).as("sgn")
        )
        .orderBy("l_orderkey", "l_linenumber", "rnd", "qty_sq", "ceil_disc", "floor_tax", "sgn")),

    // C27: conditional expressions.
    "c27_conditional" -> ((s, sf) =>
      Tables
        .events(s, sf)
        .select(
          col("event_id"),
          when(col("value") > 150, "high").when(col("value") > 75, "mid").otherwise("low").as("bucket"),
          coalesce(nullif(col("event_type"), lit("error")), lit("none")).as("etype"),
          greatest(col("value"), lit(100.0)).as("hi"),
          least(col("value"), lit(100.0)).as("lo")
        )
        .orderBy("event_id")),

    // C28: array functions + lambda higher-order functions.
    "c28_array_fns" -> ((s, sf) => {
      val toks = filter(split(col("text"), " "), t => length(t) > 0)
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tok"),
          array_contains(toks, "join").as("has_join"),
          element_at(sort_array(toks), 1).as("first_sorted"),
          // array outputs are serialized to a joined string: the oracle
          // harness hash-compares rows via pandas, which cannot sort
          // array-typed columns (CORRECTNESS_r02 c28_* err).
          array_join(slice(toks, 1, 3), "|").as("first3"),
          aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
            .as("tot_chars"),
          size(filter(toks, t => length(t) > 4)).cast("long").as("long_toks")
        )
        .orderBy("doc_id")
    }),

    // C28 (wave 2): positional/structural array functions.
    "c28_array_fns2" -> ((s, sf) => {
      val toks = filter(split(col("text"), " "), t => length(t) > 0)
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          array_position(toks, "join").as("join_pos"), // 0 when absent (both sides coalesced)
          // joined-string form: pandas oracle compare can't sort array columns
          array_join(flatten(array(slice(toks, 1, 2), slice(toks, 3, 2))), "|").as("first4"),
          array_join(array_repeat(lit("x"), 3), "|").as("xxx"),
          element_at(toks, -1).as("last_tok"),
          size(array_remove(toks, "the")).cast("long").as("n_no_the")
        )
        .orderBy("doc_id")
    }),

    // C28: explode (generator) + re-aggregation — token frequencies.
    "c28_explode" -> ((s, sf) =>
      Tables
        .documents(s, sf)
        .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(30)),

    // C29: map functions over parsed JSON props.
    "c29_map_fns" -> ((s, sf) =>
      Tables
        .events(s, sf)
        .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
        .select(
          col("event_id"),
          element_at(col("m"), "k").as("k_val"),
          size(col("m")).cast("long").as("nkeys"),
          element_at(map_keys(col("m")), 1).as("first_key")
        )
        .orderBy("event_id")),

    // C30: JSON functions — string-path extraction and json_tuple (aliased
    // through the SQL generator syntax, the supported alias form).
    "c30_json_fns" -> ((s, sf) =>
      Tables
        .events(s, sf)
        .selectExpr(
          "event_id",
          "get_json_object(props, '$.k') AS k_str",
          "json_tuple(props, 'k') AS k_tup"
        )
        .orderBy("event_id")),

    // C31: sampling — nondeterministic across engines, rows-only check.
    "c31_sample" -> ((s, sf) =>
      Tables
        .lineitem(s, sf)
        .sample(withReplacement = false, fraction = 0.1, seed = 42)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")),

    // C32: pivot — event-type counts per day (values pinned for a stable
    // schema; nulls from missing combos coalesced to 0 on both sides).
    "c32_pivot" -> ((s, sf) =>
      Tables
        .events(s, sf)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .select(
          col("day"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("error"), lit(0L)).as("error")
        )
        .orderBy("day")),

    // C32 (inverse): UNPIVOT via the stack() generator — wide columns to
    // (metric, val) rows, the melt every feature pipeline runs before a
    // grouped profile. Generator, not join: one narrow pass, row count =
    // input × metric arity.
    "c32_unpivot" -> ((s, sf) =>
      Tables
        .part(s, sf)
        .select(
          col("p_partkey"),
          expr(
            "stack(3, 'retail', p_retailprice, 'size', CAST(p_size AS DOUBLE), " +
              "'name_len', CAST(length(p_name) AS DOUBLE)) AS (metric, val)"))
        .orderBy("p_partkey", "metric")),

    // C33: Deequ-style data-quality audit (operators/DataQuality.scala) —
    // the constraint battery a pipeline gates an ingest on. All five
    // scan-level checks fold into ONE lineitem pass; uniqueness is one
    // key shuffle (and the fixture genuinely violates it — duplicate
    // (l_orderkey, l_linenumber) pairs); each referential check is one
    // outer join against a broadcast-sized distinct PK set.
    "c33_dq_audit" -> ((s, sf) => {
      import graft.operators.DataQuality
      import graft.operators.DataQuality.Check
      val li = Tables.lineitem(s, sf)
      DataQuality
        .audit(
          li,
          Seq(
            Check("completeness_l_orderkey", col("l_orderkey").isNotNull),
            Check("completeness_l_shipdate", col("l_shipdate").isNotNull),
            Check("compliance_quantity_le_45", col("l_quantity") <= 45.0),
            Check("compliance_discount_range", col("l_discount").between(0.0, 0.1)),
            Check("compliance_tax_nonneg", col("l_tax") >= 0.0)))
        .unionByName(DataQuality.uniqueness(
          li, "uniqueness_orderkey_linenumber", Seq(col("l_orderkey"), col("l_linenumber"))))
        .unionByName(DataQuality.referential(
          li, "ri_lineitem_orders", col("l_orderkey"), Tables.orders(s, sf), col("o_orderkey")))
        .unionByName(DataQuality.referential(
          Tables.orders(s, sf), "ri_orders_customer", col("o_custkey"),
          Tables.customer(s, sf), col("c_custkey")))
        .orderBy("check_name")
    }),

    // C35: incremental view maintenance (operators/Ivm.scala) — a
    // revenue-per-customer view maintained DIFFERENTIALLY: base batch
    // (90% of orders) + one changelog batch carrying late inserts
    // (o_orderkey%10=0), updates as retract+insert pairs (%7=0, +10.00
    // surcharge — an exact-in-double modification, no cast-rounding
    // parity risk), and deletes (%13=0). The oracle recomputes the view
    // from the logically-final table; hash-green means the delta path
    // reproduces the recompute bit-for-bit, including zero-weight key
    // elimination. Data-sized work = one agg per batch + a state-sized
    // merge — the 100 TB materialized-view absorb pattern.
    "c35_ivm_revenue" -> ((s, sf) => {
      import graft.operators.Ivm
      val o       = Tables.orders(s, sf)
      val keys    = Seq("o_custkey")
      val isLate  = col("o_orderkey") % 10 === 0
      val isUpd   = col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0
      val isDel   = col("o_orderkey") % 13 === 0
      val base    = o.filter(!isLate).withColumn("op", lit(1L))
      val changes = o
        .filter(isLate).withColumn("op", lit(1L))
        .unionByName(o.filter(isUpd).withColumn("op", lit(-1L)))
        .unionByName(o.filter(isUpd).withColumn("o_totalprice", col("o_totalprice") + 10.0)
          .withColumn("op", lit(1L)))
        .unionByName(o.filter(isDel).withColumn("op", lit(-1L)))
      val state = Ivm.aggDelta(base, col("op"), col("o_totalprice"), keys)
      val delta = Ivm.aggDelta(changes, col("op"), col("o_totalprice"), keys)
      Ivm
        .view(Ivm.applyDelta(state, delta, keys), keys)
        .orderBy("o_custkey")
    }),

    // C34 (composition): point-in-time enrichment — the reason SCD2
    // history exists. Tier-change events (signup/purchase/error) build the
    // per-user state history; view/click facts are then as-of joined to
    // the version active at their timestamp (AsOfJoin: one equi-join on
    // user + WindowGroupLimit rank-1 — never an interval explosion).
    // Zero-length runs (timestamp ties in the state log) lose to the
    // later version via the version-desc tie-break, matching the
    // half-open interval semantics. Facts before a user's first state
    // row drop (inner as-of).
    "c34_temporal_enrich" -> ((s, sf) => {
      val ev   = Tables.events(s, sf)
      val hist = graft.operators.Scd
        .history(
          ev.filter(col("event_type").isin("signup", "purchase", "error")),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .select(col("key"), col("state"), col("valid_from"), col("version"))
      val facts = ev
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      AsOfJoin
        .asOf(
          facts, hist,
          leftId = col("event_id"),
          leftKey = col("user_id"), rightKey = col("key"),
          leftTime = col("ts"), rightTime = col("valid_from"),
          tieBreak = Seq(col("version").desc))
        .select(
          col("event_id"), col("user_id"), col("ts"), col("event_type"),
          col("state"), col("version"))
        .orderBy("event_id")
    }),

    // C34: SCD type-2 history (operators/Scd.scala) — change log → validity
    // intervals, consecutive identical states collapsed. Join-free: three
    // windows over one user_id exchange.
    "c34_scd2_history" -> ((s, sf) =>
      graft.operators.Scd
        .history(
          Tables.events(s, sf),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .orderBy("key", "version")),

    // C36: recursive CTE (Spark 4's UnionLoop) — a data-driven monthly
    // date spine from min to max order month, left-joined to monthly
    // revenue so gap months surface as explicit zero rows (the shape
    // every reporting rollup needs and a plain GROUP BY cannot produce).
    // The recursion generates ~one row per month — bounded by the date
    // range, never by data volume — and carries its own stop bound in
    // the loop state (no correlated subquery in the recursive step), so
    // the plan is a constant-depth loop over a one-row frame plus ONE
    // aggregation of orders and a broadcast-sized join at any corpus
    // scale. DuckDB twin is the same WITH RECURSIVE, verbatim semantics.
    // C37: ANALYZE-style column statistics — the (n, nulls, ndv, min,
    // max) profile a cost-based optimizer (and every data catalog) keeps
    // per column, computed for four lineitem columns in ONE scan: a
    // single aggregate emits all 20 stats (Spark plans the multi-distinct
    // via Expand — still one pass over the parquet), then `stack`
    // unpivots them to the catalog's row-per-column shape. Exact ndv here
    // (the profile is the ground truth the HLL path approximates —
    // c12_approx_distinct is the scale tier).
    "c37_analyze_stats" -> ((s, sf) =>
      // r21 (guide §2.5): 4 countDistincts expand rows 4× through the
      // aggregate — all on the 1-partition scan's single core before
      // this rebalance (no-op at real scale; min/max/count/ndv are
      // partitioning-independent).
      Tables
        .rebalanceForCpuBy(Tables.lineitem(s, sf), col("l_orderkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").isNull.cast("long")).as("null_q"),
          countDistinct(col("l_quantity")).as("ndv_q"),
          min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          sum(col("l_extendedprice").isNull.cast("long")).as("null_p"),
          countDistinct(col("l_extendedprice")).as("ndv_p"),
          min(col("l_extendedprice")).as("min_p"),
          max(col("l_extendedprice")).as("max_p"),
          sum(col("l_discount").isNull.cast("long")).as("null_d"),
          countDistinct(col("l_discount")).as("ndv_d"),
          min(col("l_discount")).as("min_d"),
          max(col("l_discount")).as("max_d"),
          sum(col("l_tax").isNull.cast("long")).as("null_t"),
          countDistinct(col("l_tax")).as("ndv_t"),
          min(col("l_tax")).as("min_t"),
          max(col("l_tax")).as("max_t"))
        .selectExpr(
          """stack(4,
               'l_quantity',      n, null_q, ndv_q, min_q, max_q,
               'l_extendedprice', n, null_p, ndv_p, min_p, max_p,
               'l_discount',      n, null_d, ndv_d, min_d, max_d,
               'l_tax',           n, null_t, ndv_t, min_t, max_t
             ) AS (column_name, n, n_null, ndv, min_val, max_val)""")
        .orderBy("column_name")),

    // C37b: the ANALYZE profile WIRED INTO the optimizer — the catalog
    // twins carry real rowCount/NDV/min-max column statistics
    // (Warehouse.analyze pushes `ANALYZE TABLE ... FOR COLUMNS` into the
    // session catalog), so `optimizedPlan.stats` costs this 3-table chain
    // on cardinalities instead of raw file sizes and CostBasedJoinReorder
    // can re-parenthesize it (PlanSpec pins the before/after reorder).
    // The query is deliberately WRITTEN in the worst order — the two fact
    // tables first, the selective customer filter last — because at
    // 100 TB nobody hand-orders every join; the optimizer must. Oracle =
    // the same 3-table join in SQL (DuckDB reorders on its own stats):
    // stats must be plan-only, row-identical.
    "c37_cbo_reorder" -> ((s, sf) => {
      val (ord, li, cust) = Warehouse.analyze(s, sf)
      // CBO in an ISOLATED child session: newSession() shares the
      // SparkContext, cache, and the external catalog (so the bucketed
      // twins and their ANALYZE stats are visible) but NOT the SQL conf —
      // the reorder demo pays the cost-estimation planning tax here
      // alone. Globally-enabled CBO was measured to slow EVERY query's
      // planning ~15-20% (BasicStatsPlanVisitor walks each plan) while
      // benefiting only this one, so the flag is scoped, not global.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s2.table(li)
        .join(s2.table(ord), col("l_orderkey") === col("o_orderkey"))
        .join(
          s2.table(cust).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // C38: CDC upsert apply (operators/Cdc.scala) — MERGE INTO as a batch
    // operator. Changelog synthesized deterministically from orders (key =
    // o_custkey, recency = (o_orderdate, o_orderkey), op = D on every 10th
    // order else U, payload derived from the order row), applied to the
    // customer snapshot last-writer-wins: latest D drops the customer,
    // latest U replaces the row, untouched customers pass through. One
    // window rank on the delta's key exchange + one anti-join against the
    // snapshot — the snapshot is never windowed, so a TB snapshot with a
    // GB delta does delta-sized per-key work. Oracle replays the identical
    // rank/anti/union in SQL.
    "c38_cdc_apply" -> ((s, sf) => {
      val snap = Tables.customer(s, sf)
      val changelog = Tables
        .orders(s, sf)
        .select(
          col("o_custkey").as("c_custkey"),
          concat(lit("upd#"), col("o_orderkey")).as("c_name"),
          (col("o_custkey") % 25).cast("int").as("c_nationkey"),
          col("o_totalprice").as("c_acctbal"),
          col("o_orderpriority").as("c_mktsegment"),
          col("o_orderdate").as("chg_ts"),
          col("o_orderkey").as("chg_seq"),
          when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"))
      Cdc
        .upsert(snap, changelog, Seq("c_custkey"),
          orderCols = Seq(col("chg_ts"), col("chg_seq")), opCol = col("op"))
        .orderBy("c_custkey")
    }),

    // C38b: the SAME MERGE executed through the partition-scoped snapshot
    // store (Cdc.processPartitionedBatch): the changelog splits into two
    // recency-ordered micro-batches (all of batch 1 is later than all of
    // batch 0, so the last-writer-wins fold law applies), each batch
    // rewrites ONLY the key-hash buckets its delta touches and carries
    // every other bucket by manifest reference — the lakehouse MERGE
    // file-skipping shape. The served snapshot must hash-match the
    // one-shot c38 oracle exactly; every run builds it from an empty
    // store path, so re-runs serve the same snapshot.
    "c38_cdc_partitioned" -> ((s, sf) => {
      // measures the MERGE writes themselves: builds both versions
      // unconditionally, from an empty store path
      val store = buildCdcStore(s, sf)
      cdcStores.put(sf, store) // downstream serving queries reuse this build
      Cdc.readPartitionedSnapshot(s, store).orderBy("c_custkey")
    }),

    // C38b-mor: the SAME MERGE, second half committed MERGE-ON-READ
    // (Cdc.processPartitionedBatch morCommit): the post-cut changelog
    // lands as per-bucket DELTA files — O(delta) write IO, not one
    // rewritten bucket — and the DSv2 catalog scan FOLDS base + deltas
    // last-writer-wins at read time (sources/cdc/CdcScan
    // CdcMorPartitionReader, over CdcColumnarReader's vectorized
    // batches). Must hash-match the exact same oracle as
    // the copy-on-write twin: one MERGE semantics, two write-amplification
    // strategies. Serving query — the store is a session artifact; the
    // fold itself is what's measured.
    "c38_cdc_mor" -> ((s, sf) =>
      s.table(morTableFor(s, sf)).orderBy("c_custkey")),

    // C38b-split: BUCKET-COUNT EVOLUTION serving — the same MERGE history
    // split 16 → 32 in one metadata-only commit (Cdc.splitBuckets), a few
    // children rewritten natively, the rest still serving hash-slices of
    // their parents' files through the catalog scan's row-path slicing
    // reader. Must hash-match the SAME oracle as every other c38 twin:
    // layout evolution is invisible to content. Serving query over a
    // session artifact.
    "c38_cdc_split" -> ((s, sf) =>
      s.table(splitTableFor(s, sf)).orderBy("c_custkey")),

    // C38b-mor2: the WRITE side of the merge-on-read story, benched
    // round-over-round: build the base, land the post-cut changelog as a
    // delta commit, then COMPACT (Cdc.compactStore) — the cadence that
    // folds deltas back into the base and restores count/stats pushdown.
    // Rebuilds unconditionally (measures delta write + compaction);
    // result identical to both twins' oracle.
    "c38_cdc_mor_compact" -> ((s, sf) => {
      val store = freshStore(s, "cdcmorc", sf)
      buildMorStore(s, sf, store)
      Cdc.compactStore(s, store, Seq("c_custkey"), 16)
      Cdc.readPartitionedSnapshot(s, store).orderBy("c_custkey")
    }),

    // C38b-health: the COMPACTION-PRESSURE readout over the merge-on-read
    // store — x$partitions ($partitions metadata table, pure driver-side
    // manifest rows, zero data IO) aggregated into the dashboard numbers
    // an operator pages on: buckets serving through a fold (delta_depth >
    // 0), max/total pending depth, lazily-split slices, and how many
    // buckets still have recorded counts. `WHERE delta_depth > 0 OR
    // base_mod IS NOT NULL` is exactly compactStore's dirty set, so this
    // row IS the "should I compact" signal, benched round over round.
    // Oracle: artifact-backed ([[partitionsOracleSql]]) — DuckDB
    // aggregates the committed manifest's own parquet rows (len(_deltas),
    // _basemod, _rows), so the readout is hash-verified without
    // recomputing the xxhash bucket layout; the per-bucket fidelity laws
    // live in CdcCatalogSpec ($partitions vs manifest).
    "c38_cdc_partitions" -> ((s, sf) => {
      val base = morTableFor(s, sf).stripPrefix("graft.")
      s.table(s"graft.`$base$$partitions`")
        .agg(
          count(lit(1)).as("buckets"),
          sum((col("delta_depth") > 0).cast("long")).as("delta_buckets"),
          max(col("delta_depth")).as("max_depth"),
          sum(col("delta_depth").cast("long")).as("pending_deltas"),
          sum(col("base_mod").isNotNull.cast("long")).as("sliced_buckets"),
          sum(col("rows").isNotNull.cast("long")).as("counted_buckets"),
          sum(col("rows")).as("counted_rows"))
    }),

    // C38b-plan: the MAINTENANCE PLAN as a dashboard row set — the
    // buckets a planner-driven compaction (Cdc.planMaintenance →
    // maintainStore) would rewrite right now, one row per dirty bucket
    // with its pending depth and lazy-split marker, read pure-metadata
    // from x$partitions. Oracle: the same committed-manifest parquet
    // aggregate as c38_cdc_partitions, row-granular.
    "c38_cdc_maint_plan" -> ((s, sf) => {
      val base = morTableFor(s, sf).stripPrefix("graft.")
      s.table(s"graft.`$base$$partitions`")
        .filter(col("delta_depth") > 0 || col("base_mod").isNotNull)
        .select(col("_bucket"), col("delta_depth"), col("base_mod"))
        .orderBy("_bucket")
    }),

    // C38c: the CHANGE FEED between two versions of the partitioned store
    // (Delta CDF shape) — every key whose row differs between v0 and v1,
    // classified I/U/D, emitted as-at v1 (I/U) or as-at v0 (D). The scan
    // is manifest-diff pruned: buckets carried by reference between the
    // versions are never opened (law in CdcSpec), so a day's feed over a
    // TB store costs IO proportional to what the day touched. The oracle
    // recomputes both MERGE snapshots in SQL and full-joins the diff.
    "c38_cdc_changes" -> ((s, sf) =>
      // serving query: reads the session-artifact store (manifest-diff
      // pruned feed), measuring the feed — not a store rebuild
      Cdc.changesBetween(s, cdcStoreFor(s, sf), 0L, 1L, Seq("c_custkey"))
        .withColumnRenamed("_change_type", "change_type")
        .orderBy("c_custkey")),

    // C38d: POINT LOOKUP against the partitioned store — a bounded key
    // panel served by reading only the buckets those keys hash to
    // (files-scanned law in CdcSpec); must equal filtering the full MERGE
    // result, which is exactly what the oracle computes.
    "c38_cdc_lookup" -> ((s, sf) => {
      // serving query: bucket-pruned point reads against the artifact store
      import s.implicits._
      val panel = (1L to 200L by 7).toDF("c_custkey")
      Cdc.lookupKeys(s, cdcStoreFor(s, sf), Seq("c_custkey"), panel, nBuckets = 16)
        .orderBy("c_custkey")
    }),

    // C38d2: SQL TIME TRAVEL — `VERSION AS OF 0` through the DSv2 catalog
    // (CdcCatalog.loadTable(ident, version)) serves the store's FIRST
    // committed snapshot: the v1 merge that later rewrote half the
    // buckets must be invisible. Pinned reads resolve the pinned era's
    // own recorded layout/keys, prune by that manifest, and never see
    // newer files — the Delta/Iceberg `VERSION AS OF` contract on the
    // engine's own store. Oracle = the MERGE replay restricted to the
    // pre-cut half of the changelog (exactly what v0 committed);
    // vacuumed/uncommitted versions refuse loudly (CdcCatalogSpec).
    "c38_cdc_timetravel" -> ((s, sf) => {
      val (stateTbl, _) = spjTablesFor(s, sf)
      s.sql(s"SELECT * FROM $stateTbl VERSION AS OF 0").orderBy("c_custkey")
    }),

    // C38d3: TIMESTAMP AS OF — time travel by COMMIT TIME (the other
    // Delta/Iceberg spelling): serve the newest version committed at or
    // before t. The probe timestamp is v0's own recorded commit time
    // (manifest _SUCCESS mtime via Cdc.versionCommitTimes), so the query
    // deterministically selects v0 — wall-clock is only the lookup key,
    // never in the result — and must hash-match the SAME pre-cut-merge
    // oracle as `VERSION AS OF 0`. (v1 always commits in a later
    // millisecond: each version is a full write job.) Boundary laws —
    // newest-≤-t selection, loud refusal once a vacuum drops the era —
    // in CdcCatalogSpec.
    "c38_cdc_timetravel_ts" -> ((s, sf) => {
      val (stateTbl, _) = spjTablesFor(s, sf)
      val v0ms = Cdc.versionCommitTimes(s, cdcStoreFor(s, sf)).toMap.apply(0L)
      // offset-qualified literal (UTC): a zone-less local string would be
      // AMBIGUOUS during a DST fall-back hour in the session timezone and
      // could resolve an hour early — off the v0 commit entirely
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSxxx")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(v0ms))
      s.sql(s"SELECT * FROM $stateTbl TIMESTAMP AS OF '$ts'").orderBy("c_custkey")
    }),

    // C38e: the CDF feed COMPOSED with IVM — the consumer contract the
    // change feed exists for. The per-nation (count, exact-sum, mean)
    // view initial-loads once from snapshot v0, then absorbs the v0→v1
    // CDF-complete feed as Z-set deltas (insert/update_postimage = +1,
    // delete/update_preimage = −1): pre-images make the feed
    // retract-complete, so an update that MOVES a customer between
    // nations debits the old nation and credits the new one with no
    // snapshot re-read. Work at scale: |feed| keyed aggregate + a
    // state-sized merge — never |snapshot|. The oracle recomputes the
    // aggregate over the fully-merged v1 snapshot; exact decimal sums
    // make the incremental and recompute paths bit-identical.
    "c38_cdc_feed_ivm" -> ((s, sf) => {
      import graft.operators.Ivm
      val store = cdcStoreFor(s, sf)
      val nkeys = Seq("c_nationkey")
      val state0 = Ivm.aggDelta(
        Cdc.readPartitionedSnapshot(s, store, Some(0L)).withColumn("_op", lit(1L)),
        col("_op"), col("c_acctbal"), nkeys)
      val zset = Cdc.cdfToZset(Cdc.changesBetweenCdf(s, store, 0L, 1L, Seq("c_custkey")))
      val delta = Ivm.aggDelta(zset, col("_op"), col("c_acctbal"), nkeys)
      Ivm.view(Ivm.applyDelta(state0, delta, nkeys), nkeys).orderBy("c_nationkey")
    }),

    // C38f: the CDF feed served as a CATALOG TABLE (the Delta streaming-
    // CDF contract, batch side) — the materialized v0→v1 feed read
    // through the DSv2 feed scan (sources/cdc/CdcFeedScan.scala) with a
    // `_commit_version` range predicate, the exact read an incremental
    // consumer catches up with. The filter prunes version DIRECTORIES at
    // planning time (layout advice — Spark re-checks it on the rows);
    // pre/post-image fidelity and version stamping must hash-match the
    // oracle's full-outer snapshot diff.
    "c38_cdc_feed_table" -> ((s, sf) => {
      val tbl = feedTableFor(s, sf)
      s.table(tbl)
        .filter(col("_commit_version") >= 1L)
        // wall-clock commit time is real but non-deterministic — the
        // deterministic CDF columns are what the oracle hashes
        .drop("_commit_timestamp")
        .withColumnRenamed("_change_type", "change_type")
        .withColumnRenamed("_commit_version", "commit_version")
        .orderBy("c_custkey", "change_type")
    }),

    // C38f-stats (feed monitoring aggregates): UNFILTERED count/min/max
    // over the catalog feed table push into the footer-statistics scan
    // (CdcFeedScanBuilder.pushAggregation → CdcStatsScan) — the "how big
    // is my change feed, what range did it touch" monitoring query costs
    // footer IO, zero page decode. `_change_type` is data the files
    // carry, so its min/max folds too; the version/timestamp CONSTANT
    // columns refuse (absent from footers). Oracle recomputes the same
    // aggregates over the first-principles CDF derivation.
    "c38_cdc_feed_stats" -> ((s, sf) => {
      val tbl = feedTableFor(s, sf)
      // string min/max pushdown rides the feed's registration-time
      // trustStringStats flag (engine-written, non-truncating writer) —
      // a per-store opt-in, nothing session-global leaks onto other reads
      s.table(tbl).agg(
        count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        count(col("c_name")).as("n_name"),
        min(col("_change_type")).as("min_ct"),
        max(col("_change_type")).as("max_ct"))
    }),

    // C38f2 (compacted feed): the SAME catalog feed-table serve path, but
    // the two retained versions live in ONE compacted segment
    // (Cdc.compactFeed — Kafka-style coalescing of fine-grained epochs).
    // The oracle replays both version diffs in SQL with no idea the
    // layout changed: compaction must be invisible to every reader —
    // `_commit_version` rides as data, `_commit_timestamp` was
    // materialized from the commit markers before they died.
    "c38_cdc_feed_compact" -> ((s, sf) => {
      val tbl = compactFeedTableFor(s, sf)
      s.table(tbl)
        .filter(col("_commit_version") >= 1L)
        .drop("_commit_timestamp")
        .withColumnRenamed("_change_type", "change_type")
        .withColumnRenamed("_commit_version", "commit_version")
        .orderBy("c_custkey", "commit_version", "change_type")
    }),

    // C38f3 (compacted-feed monitoring aggregates): the SAME footer-
    // statistics pushdown as c38_cdc_feed_stats, but the feed's retained
    // history lives in ONE compacted segment — the stats scan's units
    // model must fold the segment's footers exactly as it folds
    // fine-grained v= dirs (compaction stays invisible to the monitoring
    // query, which still costs zero page decode).
    "c38_cdc_feed_stats_compact" -> ((s, sf) => {
      val tbl = compactFeedTableFor(s, sf)
      // string min/max via the feed's trustStringStats registration (see
      // c38_cdc_feed_stats note)
      s.table(tbl).agg(
        count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        count(col("c_name")).as("n_name"),
        min(col("_change_type")).as("min_ct"),
        max(col("_change_type")).as("max_ct"))
    }),

    // C38g: the whole MERGE expressed as SQL `MERGE INTO` through the
    // catalog's row-level operation path (sources/cdc/CdcRowLevel.scala —
    // the delta-based SupportsDelta contract): seed the store from
    // customer, dedupe the changelog to last-writer-wins per key in the
    // USING subquery (MERGE demands unique source matches), and land
    // matched-update / matched-delete / not-matched-insert verdicts as
    // ONE store version. The target scan is the ordinary bucket-pruned
    // store scan; staged delta IO ∝ matched rows; the write ∝ touched
    // buckets. Must hash-match the same merged recompute the imperative
    // API is checked against — one semantics, two front doors.
    "c38_cdc_merge_sql" -> ((s, sf) => {
      // fresh store every run: the query measures seed + one SQL MERGE
      val store = freshStore(s, "cdcmerge", sf)
      val seed = Tables.customer(s, sf)
      Cdc.processPartitionedBatch(
        seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
        seed.limit(0), Seq("c_custkey"), Seq(col("_seq")), col("_op"), store, 16, 0L)
      val tbl = "cdc_merge_" + sf.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      graft.sources.cdc.CdcCatalog.register(tbl, store, Seq("c_custkey"), 16)
      cdcChangelog(s, sf).createOrReplaceTempView("cdc_merge_log")
      s.sql(s"""
        MERGE INTO graft.$tbl t
        USING (
          SELECT * FROM (
            SELECT *, row_number()
              OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
            FROM cdc_merge_log) WHERE rn = 1) s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.c_name = s.c_name,
          t.c_nationkey = s.c_nationkey, t.c_acctbal = s.c_acctbal,
          t.c_mktsegment = s.c_mktsegment
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT
          (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
          VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment)""")
      s.table(s"graft.$tbl").orderBy("c_custkey")
    }),

    // C38 (storage-partitioned join): the account-state store joined
    // with the bucket-aligned activity-rollup store THROUGH the DSv2
    // catalog (sources/cdc) — both scans report KeyGroupedPartitioning
    // over the same bucket(16, custkey) transform, so the join plans
    // with ZERO Exchange on the join key (PlanSpec pins it): the
    // cross-store serve-side twin of the warehouse's bucketBy story,
    // for data living in the engine's own store format. Oracle replays
    // both maintainers in SQL — the V2 read path and the layout must be
    // row-identical to the plain recompute.
    "c38_cdc_spj" -> ((s, sf) => {
      val (stateTbl, activityTbl) = spjTablesFor(s, sf)
      // hint("merge") pins SMJ: the scans report REAL sizes, so the tiny
      // sf fixtures would broadcast away the very exchange-free shape
      // this query serves; at store scale neither side broadcasts and
      // SMJ-over-KeyGroupedPartitioning is what Catalyst picks anyway
      // (same discipline as c03_join_bucketed).
      s.table(stateTbl)
        .hint("merge")
        .join(s.table(activityTbl), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("total_spend")).as("spend"),
          dsum(col("c_acctbal")).as("bal"))
        .orderBy("c_mktsegment")
    }),

    // C38 (catalog point lookup): the same bounded panel as
    // c38_cdc_lookup, but THROUGH the catalog table — the IN panel
    // pushes into the V2 scan, hashes driver-side through the store's
    // own bucket function, and the scan plans ONLY the panel's buckets
    // (CdcCatalogSpec pins partitions-scanned; Spark still re-evaluates
    // the filter, so pruning is layout advice, never correctness).
    "c38_cdc_cat_lookup" -> ((s, sf) => {
      val (stateTbl, _) = spjTablesFor(s, sf)
      s.table(stateTbl)
        .filter(col("c_custkey").isin((1L to 200L by 7): _*))
        .orderBy("c_custkey")
    }),

    // C38 (catalog DPP serving): the dim's SELECTIVE date filter reaches
    // the store scan as a RUNTIME key panel (SupportsRuntimeV2Filtering):
    // Spark runs the dim side first, hands its surviving custkeys to the
    // scan as an IN predicate, and whole buckets drop before any store
    // file is opened — DPP, but over the store's hash-bucket layout
    // instead of partition directories. Pruning is layout advice only
    // (the join re-checks every key), so rows never depend on it; the
    // panel is MaxInPanel-bounded, so a huge dim degrades to a full scan
    // rather than a driver-side hash of data-sized literal lists.
    "c38_cdc_cat_dpp" -> ((s, sf) => {
      val (stateTbl, _) = spjTablesFor(s, sf)
      val dim = Tables.orders(s, sf)
        .filter(col("o_orderdate") >= to_date(lit("1995-06-01")) &&
          col("o_orderdate") < to_date(lit("1995-06-08")))
        .select(col("o_custkey")).distinct()
      s.table(stateTbl)
        .join(dim, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // C38 (footer-statistics aggregate serving): unfiltered MIN/MAX/COUNT
    // over the catalog store push into the scan and fold parquet FOOTER
    // statistics — per-bucket partitions read row-group min/max/null
    // counts, zero page decode (sources/cdc/CdcStatsScan.scala; the
    // counts-only shape answers from manifest metadata with zero file
    // IO). The oracle recomputes the same aggregates over the merged
    // snapshot, so the pushed answers must equal the scan's.
    "c38_cdc_stats_agg" -> ((s, sf) => {
      val (stateTbl, _) = spjTablesFor(s, sf)
      // string min/max via the store's trustStringStats registration (see
      // spjTablesFor note)
      s.table(stateTbl).agg(
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        min(col("c_name")).as("min_name"),
        max(col("c_name")).as("max_name"),
        count(col("c_mktsegment")).as("cnt_seg"),
        count(lit(1)).as("cnt_all"))
    }),

    // C38h (DESCRIBE HISTORY): the store's version audit line — the
    // operational surface every lake exposes (Delta DESCRIBE HISTORY /
    // Iceberg snapshots table) — served from PURE MANIFEST METADATA
    // (operators/Cdc.describeHistory): no data file is opened. The
    // oracle replays each version's MERGE semantics over the base
    // tables, so the manifest-recorded row counts must equal the true
    // per-version cardinality — the metadata line is AUDITED, not
    // trusted. Commit wall-clock and bucket census are real but host-
    // dependent (mtime) / hash-layout-dependent (xxhash64 buckets, not
    // expressible in portable SQL), so the registered projection keeps
    // the deterministic columns; the full shape is law-tested in CdcSpec.
    "c38_cdc_history" -> ((s, sf) => {
      import org.apache.spark.sql.expressions.Window
      val store = cdcStoreFor(s, sf)
      Cdc.describeHistory(s, store)
        .withColumn("n_rows", col("rows"))
        .withColumn("rows_delta",
          col("n_rows") - lag(col("n_rows"), 1).over(Window.orderBy("version")))
        .select(col("version"), col("n_rows"), col("rows_delta"))
        .orderBy("version")
    }),

    // C39 (SQL function catalog): the engine's scalar functions served as
    // V2 CATALOG FUNCTIONS (functions/SqlFunctions.scala via the graft
    // FunctionCatalog) — pure-SQL users call graft.cosine / graft.l2dist /
    // graft.morton3 with no per-session UDF registration; the magic
    // `invoke` plans as a codegen-inlined Invoke, and argument casts
    // (array<float> → array<double>) are the analyzer's. The oracle
    // recomputes all three in portable SQL (list_dot_product / explicit
    // bit interleave), so the catalog path must be value-identical to
    // first-principles arithmetic.
    "c39_fn_catalog" -> ((s, sf) =>
      s.sql(s"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(graft.cosine(a.embedding, b.embedding), 9) AS cos,
               round(graft.l2dist(a.embedding, b.embedding), 9) AS l2,
               graft.morton3(a.vec_id % 1024, b.vec_id % 1024,
                             (a.vec_id + b.vec_id) % 1024) AS zkey
        FROM parquet.`$sf/embeddings.parquet` a
        JOIN parquet.`$sf/embeddings.parquet` b ON b.vec_id = a.vec_id + 1
        ORDER BY id_a""")),

    "c36_recursive_cte" -> ((s, sf) =>
      s.sql(s"""
        WITH RECURSIVE bounds AS (
          SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
                 CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
          FROM parquet.`$sf/orders.parquet`
        ),
        months(m, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE), hi FROM months WHERE m < hi
        ),
        rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 count(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          FROM parquet.`$sf/orders.parquet`
          GROUP BY 1
        )
        SELECT months.m,
               CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
               COALESCE(rev.revenue, CAST(0.0 AS DOUBLE)) AS revenue
        FROM months LEFT JOIN rev ON rev.m = months.m
        ORDER BY months.m
      """))
  )


  /** Shared oracle derivation for the COMPACTED-feed fixture: the
    * 3-version store's full CDF rows (versions 1 and 2) recomputed
    * from first principles, ending in a `cdf` CTE — reused by the
    * row-level (c38_cdc_feed_compact) and aggregate
    * (c38_cdc_feed_stats_compact) oracles so the two can never
    * drift. */
  private val compactCdfOracleCte: String =
    """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         l0 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log WHERE chg_ts < DATE '1994-06-01')
           WHERE rn = 1
         ),
         s0 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l0 WHERE op <> 'D'
         ),
         l1 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log WHERE chg_ts < DATE '1996-06-01')
           WHERE rn = 1
         ),
         s1 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l1 WHERE op <> 'D'
         ),
         l2 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         s2 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l2 WHERE l2.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l2 WHERE op <> 'D'
         ),
         diff01 AS (
           SELECT b.c_custkey AS k0, a.c_custkey AS k1,
                  b.c_name AS bn, b.c_nationkey AS bnk, b.c_acctbal AS bb, b.c_mktsegment AS bm,
                  a.c_name AS an, a.c_nationkey AS ank, a.c_acctbal AS ab, a.c_mktsegment AS am
           FROM s0 b FULL JOIN s1 a ON a.c_custkey = b.c_custkey
           WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
              OR b.c_name IS DISTINCT FROM a.c_name
              OR b.c_nationkey IS DISTINCT FROM a.c_nationkey
              OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
              OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
         ),
         diff12 AS (
           SELECT b.c_custkey AS k0, a.c_custkey AS k1,
                  b.c_name AS bn, b.c_nationkey AS bnk, b.c_acctbal AS bb, b.c_mktsegment AS bm,
                  a.c_name AS an, a.c_nationkey AS ank, a.c_acctbal AS ab, a.c_mktsegment AS am
           FROM s1 b FULL JOIN s2 a ON a.c_custkey = b.c_custkey
           WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
              OR b.c_name IS DISTINCT FROM a.c_name
              OR b.c_nationkey IS DISTINCT FROM a.c_nationkey
              OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
              OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
         ),
         cdf AS (
         SELECT k1 AS c_custkey, an AS c_name, ank AS c_nationkey,
                ab AS c_acctbal, am AS c_mktsegment,
                CASE WHEN k0 IS NULL THEN 'insert' ELSE 'update_postimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff01 WHERE k1 IS NOT NULL
         UNION ALL
         SELECT k0, bn, bnk, bb, bm,
                CASE WHEN k1 IS NULL THEN 'delete' ELSE 'update_preimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff01 WHERE k0 IS NOT NULL
         UNION ALL
         SELECT k1, an, ank, ab, am,
                CASE WHEN k0 IS NULL THEN 'insert' ELSE 'update_postimage' END AS change_type,
                CAST(2 AS BIGINT) AS commit_version
         FROM diff12 WHERE k1 IS NOT NULL
         UNION ALL
         SELECT k0, bn, bnk, bb, bm,
                CASE WHEN k1 IS NULL THEN 'delete' ELSE 'update_preimage' END AS change_type,
                CAST(2 AS BIGINT) AS commit_version
         FROM diff12 WHERE k0 IS NOT NULL
         )"""

  /** The MERGE recompute all three partitioned-store twins share
    * (copy-on-write, merge-on-read fold, merge-on-read + compaction):
    * one semantics, three write-amplification strategies — every one
    * must hash-match this identical replay. */
  /** [[CdcMergeOracle]] restricted to the PRE-CUT half of the changelog —
    * exactly what store version 0 committed; the oracle for both time
    * travel spellings (`VERSION AS OF 0`, `TIMESTAMP AS OF <v0 commit>`). */
  private val CdcV0Oracle: String =
    """WITH log AS (
         SELECT o_custkey AS c_custkey,
                'upd#' || o_orderkey AS c_name,
                CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                o_totalprice AS c_acctbal,
                o_orderpriority AS c_mktsegment,
                o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
         FROM orders
       ),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number()
             OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
           FROM log WHERE chg_ts < DATE '1995-06-01')
         WHERE rn = 1
       )
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
       UNION ALL
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM latest WHERE op <> 'D'
       ORDER BY c_custkey"""

  private val CdcMergeOracle: String =
    """WITH log AS (
         SELECT o_custkey AS c_custkey,
                'upd#' || o_orderkey AS c_name,
                CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                o_totalprice AS c_acctbal,
                o_orderpriority AS c_mktsegment,
                o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
         FROM orders
       ),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number()
             OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
           FROM log)
         WHERE rn = 1
       )
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
       UNION ALL
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM latest WHERE op <> 'D'
       ORDER BY c_custkey"""

  /** Static oracles plus the ARTIFACT-BACKED `c38_cdc_partitions` twin,
    * emitted once the session has built the merge-on-read store (the
    * Verify shape — same contract as LlmQueries.indexOracleSql): the
    * per-bucket health row aggregates the manifest's own parquet rows, so
    * DuckDB replays the readout straight off the committed manifest —
    * bucket count, delta depths (len(_deltas)), lazy-split markers and
    * recorded row counts — without recomputing the xxhash bucket layout. */
  def sql: Map[String, String] = staticSql ++ partitionsOracleSql

  private def partitionsOracleSql: Map[String, String] =
    if (morTables.size != 1) Map.empty
    else {
      val store = morStorePath(morTables.keys.head)
      val m = s"read_parquet('$store/manifest/v=*/*.parquet', hive_partitioning=1)"
      Map("c38_cdc_partitions" ->
        s"""SELECT CAST(count(*) AS BIGINT) AS buckets,
              CAST(sum(CASE WHEN len(_deltas) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta_buckets,
              CAST(max(len(_deltas)) AS INTEGER) AS max_depth,
              CAST(sum(len(_deltas)) AS BIGINT) AS pending_deltas,
              CAST(sum(CASE WHEN _basemod IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sliced_buckets,
              CAST(sum(CASE WHEN _rows IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS counted_buckets,
              CAST(sum(_rows) AS BIGINT) AS counted_rows
            FROM $m
            WHERE CAST(v AS BIGINT) = (SELECT max(CAST(v AS BIGINT)) FROM $m)""",
        "c38_cdc_maint_plan" ->
          s"""SELECT CAST(_bucket AS INTEGER) AS _bucket,
                CAST(len(_deltas) AS INTEGER) AS delta_depth,
                CAST(_basemod AS INTEGER) AS base_mod
              FROM $m
              WHERE CAST(v AS BIGINT) = (SELECT max(CAST(v AS BIGINT)) FROM $m)
                AND (len(_deltas) > 0 OR _basemod IS NOT NULL)
              ORDER BY _bucket""")
    }

  private val staticSql: Map[String, String] = Map(
    "c01_filter_predicates" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','N')
           AND l_shipdate < TIMESTAMP '2000-01-01' AND l_linestatus LIKE 'F%'
           AND (l_returnflag IS NOT DISTINCT FROM 'A' OR l_returnflag IS NOT DISTINCT FROM 'N')
         ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""",
    "c02_project_expr" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS disc_price,
         l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_price, charge""",
    "c03_join_inner" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "c03_join_salted" ->
      """SELECT c_mktsegment, count(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // Bucketing is layout-only: the oracle is the PLAIN inner-join SQL.
    "c03_join_bucketed" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "c04_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt,
         CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "c04_join_full" ->
      """WITH big AS (
           SELECT o_custkey AS k1, count(*) AS big_cnt FROM orders
           WHERE o_totalprice > 400000 GROUP BY o_custkey),
         urgent AS (
           SELECT o_custkey AS k2, count(*) AS urgent_cnt FROM orders
           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
         SELECT COALESCE(k1, k2) AS custkey, COALESCE(big_cnt, 0) AS big_cnt,
           COALESCE(urgent_cnt, 0) AS urgent_cnt
         FROM big FULL JOIN urgent ON k1 = k2 ORDER BY custkey""",
    "c05_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "c05_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""",
    "c05_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300.0)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "c05_tpch_q21" ->
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
         ll AS (SELECT l_orderkey, l_suppkey,
                  (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
                FROM lineitem JOIN f ON l_orderkey = o_orderkey),
         l1 AS (SELECT * FROM ll WHERE late)
         SELECT s_name, count(*) AS numwait
         FROM l1 JOIN supplier ON l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM ll l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l1 l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
    "c06_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS cust_cnt,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "c07_join_theta" ->
      """SELECT s_suppkey, count(*) AS richer_customers
         FROM supplier JOIN customer ON c_acctbal > s_acctbal
         GROUP BY s_suppkey ORDER BY s_suppkey""",
    "c08_join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "c09_asof_join" ->
      """SELECT event_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.ts, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM (SELECT * FROM events WHERE event_id % 20 = 0) e
           JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "c09_asof_tolerance" ->
      """SELECT event_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.ts, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM (SELECT * FROM events WHERE event_id % 20 = 0) e
           JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
             AND o.o_orderdate >= e.ts - INTERVAL 725760000 SECONDS)
         WHERE rn = 1 ORDER BY event_id""",
    "c09_asof_merge" ->
      """SELECT event_id, ts, o_orderkey, o_orderdate FROM (
           SELECT e.event_id, e.ts, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM (SELECT * FROM events WHERE event_id % 20 = 0) e
           JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "c09_asof_forward" ->
      """SELECT event_id, ts, p_id, p_ts FROM (
           SELECT e.event_id, e.ts, p.event_id AS p_id, p.ts AS p_ts,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY p.ts ASC, p.event_id ASC) AS rn
           FROM (SELECT * FROM events WHERE event_id % 20 = 0) e
           JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             ON p.user_id = e.user_id AND p.ts >= e.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "c09_asof_nearest" ->
      """SELECT event_id, ts, p_id, p_ts FROM (
           SELECT e.event_id, e.ts, p.event_id AS p_id, p.ts AS p_ts,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)) ASC,
                                         p.ts ASC, p.event_id ASC) AS rn
           FROM (SELECT * FROM events WHERE event_id % 20 = 0) e
           JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             ON p.user_id = e.user_id
             AND p.ts >= e.ts - INTERVAL 7200 SECONDS
             AND p.ts <= e.ts + INTERVAL 7200 SECONDS)
         WHERE rn = 1 ORDER BY event_id""",
    "c17_window_range_time" ->
      """SELECT event_id, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS hr_sum,
         count(*) OVER w AS hr_cnt
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "c03_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-01-01'
           AND l_shipdate > TIMESTAMP '1997-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "c06_tpch_q5" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "c04_tpch_q10" ->
      """SELECT c_custkey, c_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "c10_agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "c10_agg_stats" ->
      """SELECT l_returnflag, n, (s2 - s1 * s1 / n) / (n - 1) AS var_samp,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_samp
         FROM (
           SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity * l_quantity AS BIGINT)) AS DOUBLE) AS s2
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",
    "c10_agg_corr" ->
      """SELECT l_returnflag, n,
         round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp,
         round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12) AS corr
         FROM (
           SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",
    "c10_percentile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "c11_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS supp_cnt,
         count(DISTINCT l_partkey) AS part_cnt,
         CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_distinct_sum
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "c13_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
         count(*) AS cnt, CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY g_flag, g_status, flag, status""",
    "c13_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS prio,
         count(*) AS cnt, CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_prio, status, prio""",
    "c13_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
         COALESCE(l_linestatus, 'ALL') AS status,
         count(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY g_flag, g_status, flag, status""",
    "c14_agg_global" ->
      """SELECT count(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         FROM lineitem""",
    "c15_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk, nt FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER w AS rn, rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk, ntile(4) OVER w AS nt
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "c17_window_range_num" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(count(*) OVER w AS BIGINT) AS cohort_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS cohort_sum
         FROM orders
         WHERE o_orderkey % 5 = 0
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
         ORDER BY o_orderpriority, o_totalprice, o_orderkey""",
    "c15_window_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume
         FROM orders
         WHERE o_orderkey % 10 = 0
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
         ORDER BY o_orderpriority, o_totalprice, o_orderkey""",
    "c16_window_analytic" ->
      """SELECT o_custkey, o_orderkey,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         first_value(o_totalprice) OVER wf AS first_price,
         last_value(o_totalprice) OVER wf AS last_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",
    "c17_window_frame" ->
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER run AS DOUBLE) AS running_total,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER last3 AS DOUBLE)
           / COUNT(*) OVER last3 AS moving_avg3
         FROM orders
         WINDOW run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           last3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "c18_sort_nulls" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS st FROM orders
         ORDER BY st ASC NULLS FIRST, o_orderkey DESC LIMIT 50""",
    "c18_zorder" ->
      s"""SELECT p_partkey,
         ${graft.catalyst.InterleaveBitsExpression.oracleSql("p_partkey", "CAST(p_size AS BIGINT)")} AS z
         FROM part ORDER BY p_partkey""",
    "c18_zorder3" ->
      s"""SELECT p_partkey,
         ${graft.catalyst.Morton3Expression.oracleSql(
           "p_partkey", "CAST(p_size AS BIGINT)", "(p_partkey % 997)")} AS z3
         FROM part ORDER BY p_partkey""",
    "c18_zorder_skipping" -> {
      val zSql = graft.catalyst.InterleaveBitsExpression.oracleSql("l_partkey", "l_suppkey")
      s"""WITH base AS (
           SELECT l_orderkey AS ok, l_partkey AS lp, l_suppkey AS ls,
             $zSql AS z
           FROM lineitem)
         ${Seq(("linear_partkey", "lp"), ("natural", "ok"), ("zorder", "z")).map { case (n, k) =>
        s"""SELECT '$n' AS layout, count(*) AS files_total,
             count(*) FILTER (WHERE min_p <= 200 AND max_p >= 1
               AND min_s <= 20 AND max_s >= 1) AS files_box_scan,
             count(*) FILTER (WHERE min_s <= 20 AND max_s >= 1) AS files_suppkey_scan
           FROM (
             SELECT (($k - (SELECT min($k) FROM base)) * 64)
                 // ((SELECT max($k) FROM base) - (SELECT min($k) FROM base) + 1) AS f,
               min(lp) AS min_p, max(lp) AS max_p,
               min(ls) AS min_s, max(ls) AS max_s
             FROM base GROUP BY 1)"""
      }.mkString("\n         UNION ALL\n         ")}
         ORDER BY layout"""
    },
    "c19_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "c20_union" ->
      """SELECT * FROM (
           SELECT c_custkey AS id, 'cust' AS src FROM customer
           UNION ALL
           SELECT s_suppkey AS id, 'supp' AS src FROM supplier)
         ORDER BY src, id""",
    "c21_intersect" ->
      """SELECT k FROM (
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
           INTERSECT
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
         ORDER BY k""",
    "c21_except_all" ->
      """SELECT k, count(*) AS cnt FROM (
           SELECT o_custkey AS k FROM orders
           EXCEPT ALL
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
         GROUP BY k ORDER BY k""",
    "c21_intersect_all" ->
      """SELECT k, count(*) AS cnt FROM (
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
           INTERSECT ALL
           SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
         GROUP BY k ORDER BY k""",
    "c22_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "c23_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (
             SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         ORDER BY o_orderkey""",
    "c23_lateral" ->
      """SELECT c_custkey, t.o_orderkey AS top_orderkey, t.o_totalprice AS top_price
         FROM customer,
         LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
         ) t
         ORDER BY c_custkey""",
    "c23_tpch_q17" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem l, part p
         WHERE p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size < 15
           AND l_quantity < (
             SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
             FROM lineitem l2
             WHERE l2.l_partkey = p_partkey)""",
    "c05_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "c03_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
         CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1.0 - l_discount) AS volume
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "c27_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                       THEN CAST(volume AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
         FROM (
           SELECT o_orderdate, n2.n_name AS supp_nation,
             l_extendedprice * (1.0 - l_discount) AS volume
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE p_type = 'PROMO'
             AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
             AND c_nationkey IN (
               SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'ASIA'))
         GROUP BY year(o_orderdate) ORDER BY o_year""",
    "c27_tpch_q12" ->
      """SELECT l_returnflag,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "c14_tpch_q14" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""",
    "c23_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS rev_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
         ORDER BY s_suppkey""",
    "c11_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "c01_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""",
    "c14_tpch_q11" ->
      """WITH value AS (
           SELECT l_partkey, SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS v_dec
           FROM lineitem GROUP BY l_partkey)
         SELECT l_partkey, CAST(v_dec AS DOUBLE) AS value
         FROM value
         WHERE CAST(v_dec AS DOUBLE) > (SELECT CAST(SUM(v_dec) AS DOUBLE) FROM value) * 0.0008
         ORDER BY value DESC, l_partkey""",
    "c05_tpch_q22" ->
      """SELECT right(c_name, 2) AS cntrycode, count(*) AS numcust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_acctbal > (
             SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c_acctbal)
             FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         GROUP BY cntrycode ORDER BY cntrycode""",
    "c01_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "c04_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "c05_tpch_q20" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'PROMO'
           GROUP BY l_suppkey, l_partkey
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 100.0)
         ORDER BY s_suppkey""",
    "c23_tpch_q2" ->
      """WITH eu AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
         ps AS (
           SELECT l_partkey AS p_partkey, l_suppkey, min(l_extendedprice) AS cost
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size = 15 GROUP BY l_partkey, l_suppkey)
         SELECT s_acctbal, s_name, n_name, p_partkey, cost
         FROM ps JOIN eu ON l_suppkey = s_suppkey
         WHERE cost = (SELECT min(p2.cost) FROM ps p2 JOIN eu e2 ON p2.l_suppkey = e2.s_suppkey
                       WHERE p2.p_partkey = ps.p_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "c03_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%gear%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY nation, o_year DESC""",
    "c24_string_fns" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
         substring(p_type, 1, 5) AS sub, trim(' ' || p_name || ' ') AS tr,
         replace(p_type, ' ', '_') AS rep, regexp_extract(p_name, '([a-z]+)', 1) AS rex,
         CAST(length(p_name) AS BIGINT) AS len, p_type LIKE '%BRASS%' AS is_brass,
         string_split(p_name, ' ')[1] AS first_tok
         FROM part ORDER BY p_partkey""",
    "c24_string_fns2" ->
      """SELECT p_partkey, lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
         translate(p_type, 'AEIOU', 'aeiou') AS tr, repeat('ab', 3) AS rep3,
         reverse(p_name) AS rev,
         CAST(levenshtein(p_brand, 'Brand#1') AS BIGINT) AS lev,
         split_part(p_type, ' ', 1) AS head_word,
         left(p_name, 4) AS l4, right(p_name, 4) AS r4
         FROM part ORDER BY p_partkey""",
    "c25_datetime_fns2" ->
      """SELECT o_orderkey, CAST(quarter(o_orderdate) AS BIGINT) AS q,
         CAST(dayofweek(o_orderdate) AS BIGINT) AS dow0,
         CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
         CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
         last_day(o_orderdate) AS eom,
         CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - (1995 * 12 + 1) AS BIGINT) AS months_since
         FROM orders ORDER BY o_orderkey""",
    "c28_array_fns2" ->
      """SELECT doc_id,
         COALESCE(CAST(list_position(toks, 'join') AS BIGINT), 0) AS join_pos,
         array_to_string(flatten([toks[1:2], toks[3:4]]), '|') AS first4,
         'x|x|x' AS xxx,
         toks[-1] AS last_tok,
         CAST(len(list_filter(toks, t -> t != 'the')) AS BIGINT) AS n_no_the
         FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
               FROM documents)
         ORDER BY doc_id""",
    "c25_datetime_fns" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m, CAST(day(o_orderdate) AS BIGINT) AS d,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
         CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
         strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",
    "c26_math_fns" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 1) AS rnd,
         abs(l_extendedprice * -1.0) AS absv,
         CAST(ceil(l_discount * 100) AS BIGINT) AS ceil_disc,
         CAST(floor(l_tax * 100) AS BIGINT) AS floor_tax,
         sqrt(l_extendedprice) AS sqrt_price,
         l_quantity * l_quantity AS qty_sq,
         round(ln(l_extendedprice), 6) AS ln_price,
         l_orderkey % 7 AS mod7,
         CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
         FROM lineitem ORDER BY l_orderkey, l_linenumber, rnd, qty_sq, ceil_disc, floor_tax, sgn""",
    "c27_conditional" ->
      """SELECT event_id,
         CASE WHEN value > 150 THEN 'high' WHEN value > 75 THEN 'mid' ELSE 'low' END AS bucket,
         COALESCE(NULLIF(event_type, 'error'), 'none') AS etype,
         greatest(value, 100.0) AS hi, least(value, 100.0) AS lo
         FROM events ORDER BY event_id""",
    "c28_array_fns" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         list_contains(toks, 'join') AS has_join,
         list_sort(toks)[1] AS first_sorted,
         array_to_string(toks[1:3], '|') AS first3,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS tot_chars,
         CAST(len(list_filter(toks, t -> length(t) > 4)) AS BIGINT) AS long_toks
         FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
               FROM documents)
         ORDER BY doc_id""",
    "c28_explode" ->
      """SELECT tok, count(*) AS cnt FROM (
           SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS tok
           FROM documents)
         GROUP BY tok ORDER BY cnt DESC, tok LIMIT 30""",
    "c29_map_fns" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
         CAST(len(json_keys(props)) AS BIGINT) AS nkeys,
         json_keys(props)[1] AS first_key
         FROM events ORDER BY event_id""",
    "c30_json_fns" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
         json_extract_string(props, '$.k') AS k_tup
         FROM events ORDER BY event_id""",
    "c32_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS error
         FROM events GROUP BY 1 ORDER BY 1""",
    "c32_unpivot" ->
      """SELECT p_partkey, metric, val FROM (
           SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
           UNION ALL
           SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
           UNION ALL
           SELECT p_partkey, 'name_len', CAST(length(p_name) AS DOUBLE) FROM part)
         ORDER BY p_partkey, metric""",
    "c33_dq_audit" ->
      """WITH scan AS (
           SELECT 'completeness_l_orderkey' AS check_name, count(*) AS n_rows,
             count(*) FILTER (WHERE l_orderkey IS NULL) AS violations
           FROM lineitem
           UNION ALL
           SELECT 'completeness_l_shipdate', count(*),
             count(*) FILTER (WHERE l_shipdate IS NULL)
           FROM lineitem
           UNION ALL
           SELECT 'compliance_quantity_le_45', count(*),
             count(*) FILTER (WHERE NOT coalesce(l_quantity <= 45.0, FALSE))
           FROM lineitem
           UNION ALL
           SELECT 'compliance_discount_range', count(*),
             count(*) FILTER (WHERE NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE))
           FROM lineitem
           UNION ALL
           SELECT 'compliance_tax_nonneg', count(*),
             count(*) FILTER (WHERE NOT coalesce(l_tax >= 0.0, FALSE))
           FROM lineitem
           UNION ALL
           SELECT 'uniqueness_orderkey_linenumber',
             CAST(coalesce(sum(n), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS BIGINT)
           FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
           UNION ALL
           SELECT 'ri_lineitem_orders', count(*),
             count(*) FILTER (WHERE l_orderkey IS NOT NULL AND o_orderkey IS NULL)
           FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l_orderkey = o_orderkey
           UNION ALL
           SELECT 'ri_orders_customer', count(*),
             count(*) FILTER (WHERE o_custkey IS NOT NULL AND c_custkey IS NULL)
           FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o_custkey = c_custkey)
         SELECT check_name, n_rows, violations,
           round(CASE WHEN n_rows = 0 THEN 1.0
                      ELSE 1.0 - CAST(violations AS DOUBLE) / CAST(n_rows AS DOUBLE) END, 6)
             AS metric
         FROM scan ORDER BY check_name""",
    "c35_ivm_revenue" ->
      """WITH final AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
                  THEN o_totalprice + 10.0 ELSE o_totalprice END AS p
           FROM orders WHERE o_orderkey % 13 <> 0)
         SELECT o_custkey, count(*) AS cnt,
           CAST(sum(CAST(p AS DECIMAL(28,4))) AS DOUBLE) AS sum_val,
           round(CAST(sum(CAST(p AS DECIMAL(28,4))) AS DOUBLE) / count(*), 6)
             AS avg_val
         FROM final GROUP BY o_custkey ORDER BY o_custkey""",
    "c34_temporal_enrich" ->
      """WITH state_log AS (
           SELECT user_id, ts, event_type, event_id FROM events
           WHERE event_type IN ('signup', 'purchase', 'error')
         ), marked AS (
           SELECT user_id, ts, event_type AS state, event_id,
             lag(event_type) OVER w AS prev
           FROM state_log
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), runs AS (
           SELECT user_id, ts, state,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS version
           FROM marked WHERE prev IS NULL OR prev <> state
         ), facts AS (
           SELECT event_id, user_id, ts, event_type FROM events
           WHERE event_type IN ('view', 'click')
         )
         SELECT f.event_id, f.user_id, f.ts, f.event_type, r.state, r.version
         FROM facts f JOIN runs r ON f.user_id = r.user_id AND r.ts <= f.ts
         QUALIFY row_number() OVER (PARTITION BY f.event_id ORDER BY r.ts DESC, r.version DESC) = 1
         ORDER BY event_id""",
    "c34_scd2_history" ->
      """WITH marked AS (
           SELECT user_id AS key, ts, event_type AS state, event_id,
             lag(event_type) OVER w AS prev_state
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), runs AS (
           SELECT key, ts, state, event_id
           FROM marked WHERE prev_state IS NULL OR prev_state <> state
         )
         SELECT key, state, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(ts) OVER w IS NULL AS is_current
         FROM runs
         WINDOW w AS (PARTITION BY key ORDER BY ts, event_id)
         ORDER BY key, version""",
    "c37_analyze_stats" ->
      """WITH agg AS (
           SELECT count(*) AS n,
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
             count(DISTINCT l_quantity) AS ndv_q, min(l_quantity) AS min_q, max(l_quantity) AS max_q,
             SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS null_p,
             count(DISTINCT l_extendedprice) AS ndv_p, min(l_extendedprice) AS min_p, max(l_extendedprice) AS max_p,
             SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS null_d,
             count(DISTINCT l_discount) AS ndv_d, min(l_discount) AS min_d, max(l_discount) AS max_d,
             SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS null_t,
             count(DISTINCT l_tax) AS ndv_t, min(l_tax) AS min_t, max(l_tax) AS max_t
           FROM lineitem)
         SELECT 'l_quantity' AS column_name, n, CAST(null_q AS BIGINT) AS n_null,
                CAST(ndv_q AS BIGINT) AS ndv, min_q AS min_val, max_q AS max_val FROM agg
         UNION ALL
         SELECT 'l_extendedprice', n, CAST(null_p AS BIGINT), CAST(ndv_p AS BIGINT), min_p, max_p FROM agg
         UNION ALL
         SELECT 'l_discount', n, CAST(null_d AS BIGINT), CAST(ndv_d AS BIGINT), min_d, max_d FROM agg
         UNION ALL
         SELECT 'l_tax', n, CAST(null_t AS BIGINT), CAST(ndv_t AS BIGINT), min_t, max_t FROM agg
         ORDER BY column_name""",
    // Catalog stats are plan-only: the oracle is the plain 3-table join.
    "c37_cbo_reorder" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "c38_cdc_apply" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         )
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM latest WHERE op <> 'D'
         ORDER BY c_custkey""",
    // identical MERGE semantics — the partitioned store must serve exactly
    // the one-shot result, so the oracle is the same rank/anti/union replay
    "c38_cdc_partitioned" -> CdcMergeOracle,
    // merge-on-read twins: the write-amplification strategy (delta files
    // + read fold / + compaction) must be INVISIBLE to every reader, so
    // both share the copy-on-write twin's oracle verbatim
    "c38_cdc_mor" -> CdcMergeOracle,
    "c38_cdc_split" -> CdcMergeOracle,
    "c38_cdc_mor_compact" -> CdcMergeOracle,
    // time travel to v0 = the merge replay over ONLY the pre-cut half of
    // the changelog (what batch 0 committed; batch 1 must be invisible) —
    // shared verbatim by the version-pin and commit-time-pin spellings
    "c38_cdc_timetravel" -> CdcV0Oracle,
    "c38_cdc_timetravel_ts" -> CdcV0Oracle,
    "c38_cdc_changes" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         l0 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log WHERE chg_ts < DATE '1995-06-01')
           WHERE rn = 1
         ),
         s0 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l0 WHERE op <> 'D'
         ),
         l1 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         s1 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l1 WHERE op <> 'D'
         )
         SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN a.c_custkey IS NULL THEN b.c_name ELSE a.c_name END AS c_name,
           CASE WHEN a.c_custkey IS NULL THEN b.c_nationkey ELSE a.c_nationkey END AS c_nationkey,
           CASE WHEN a.c_custkey IS NULL THEN b.c_acctbal ELSE a.c_acctbal END AS c_acctbal,
           CASE WHEN a.c_custkey IS NULL THEN b.c_mktsegment ELSE a.c_mktsegment END AS c_mktsegment,
           CASE WHEN b.c_custkey IS NULL THEN 'I'
                WHEN a.c_custkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type
         FROM s0 b FULL JOIN s1 a ON a.c_custkey = b.c_custkey
         WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
            OR b.c_name IS DISTINCT FROM a.c_name
            OR b.c_nationkey IS DISTINCT FROM a.c_nationkey
            OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
            OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
         ORDER BY c_custkey""",
    // SQL MERGE INTO ≡ the same last-writer-wins merged snapshot
    "c38_cdc_merge_sql" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         )
         SELECT * FROM merged ORDER BY c_custkey""",
    // feed table ≡ the CDF shape of the same snapshot diff: updates emit
    // BOTH images, inserts the post side, deletes the pre side, all
    // stamped with the committing version
    "c38_cdc_feed_table" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         l0 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log WHERE chg_ts < DATE '1995-06-01')
           WHERE rn = 1
         ),
         s0 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l0 WHERE op <> 'D'
         ),
         l1 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         s1 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l1 WHERE op <> 'D'
         ),
         diff AS (
           SELECT b.c_custkey AS k0, a.c_custkey AS k1,
                  b.c_name AS bn, b.c_nationkey AS bnk, b.c_acctbal AS bb, b.c_mktsegment AS bm,
                  a.c_name AS an, a.c_nationkey AS ank, a.c_acctbal AS ab, a.c_mktsegment AS am
           FROM s0 b FULL JOIN s1 a ON a.c_custkey = b.c_custkey
           WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
              OR b.c_name IS DISTINCT FROM a.c_name
              OR b.c_nationkey IS DISTINCT FROM a.c_nationkey
              OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
              OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
         )
         SELECT k1 AS c_custkey, an AS c_name, ank AS c_nationkey,
                ab AS c_acctbal, am AS c_mktsegment,
                CASE WHEN k0 IS NULL THEN 'insert' ELSE 'update_postimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff WHERE k1 IS NOT NULL
         UNION ALL
         SELECT k0, bn, bnk, bb, bm,
                CASE WHEN k1 IS NULL THEN 'delete' ELSE 'update_preimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff WHERE k0 IS NOT NULL
         ORDER BY c_custkey, change_type""",
    // feed monitoring aggregates ≡ the same aggregates over the CDF rows
    "c38_cdc_feed_stats" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         l0 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log WHERE chg_ts < DATE '1995-06-01')
           WHERE rn = 1
         ),
         s0 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l0 WHERE op <> 'D'
         ),
         l1 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         s1 AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM l1 WHERE op <> 'D'
         ),
         diff AS (
           SELECT b.c_custkey AS k0, a.c_custkey AS k1,
                  b.c_name AS bn, b.c_nationkey AS bnk, b.c_acctbal AS bb, b.c_mktsegment AS bm,
                  a.c_name AS an, a.c_nationkey AS ank, a.c_acctbal AS ab, a.c_mktsegment AS am
           FROM s0 b FULL JOIN s1 a ON a.c_custkey = b.c_custkey
           WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
              OR b.c_name IS DISTINCT FROM a.c_name
              OR b.c_nationkey IS DISTINCT FROM a.c_nationkey
              OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
              OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
         ),
         cdf AS (
         SELECT k1 AS c_custkey, an AS c_name, ank AS c_nationkey,
                ab AS c_acctbal, am AS c_mktsegment,
                CASE WHEN k0 IS NULL THEN 'insert' ELSE 'update_postimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff WHERE k1 IS NOT NULL
         UNION ALL
           SELECT k0, bn, bnk, bb, bm,
                CASE WHEN k1 IS NULL THEN 'delete' ELSE 'update_preimage' END AS change_type,
                CAST(1 AS BIGINT) AS commit_version
         FROM diff WHERE k0 IS NOT NULL
         )
         SELECT count(*) AS n, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
                count(c_name) AS n_name, min(change_type) AS min_ct, max(change_type) AS max_ct
         FROM cdf""",
    "c38_cdc_feed_compact" ->
      s"""$compactCdfOracleCte
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                change_type, commit_version
         FROM cdf ORDER BY c_custkey, commit_version, change_type""",
    // compact-feed monitoring aggregates ≡ the same aggregates over
    // the recomputed two-version CDF
    "c38_cdc_feed_stats_compact" ->
      s"""$compactCdfOracleCte
         SELECT count(*) AS n, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
                count(c_name) AS n_name, min(change_type) AS min_ct, max(change_type) AS max_ct
         FROM cdf""",
    "c38_cdc_lookup" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         )
         SELECT * FROM merged
         WHERE c_custkey IN (SELECT i FROM generate_series(1, 200, 7) AS t(i))
         ORDER BY c_custkey""",
    // feed-driven IVM ≡ aggregate over the fully-merged snapshot (s1 of
    // the c38_cdc_changes recompute), c35's exact-decimal conventions
    "c38_cdc_feed_ivm" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         l1 AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         s1 AS (
           SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_nationkey, c_acctbal
           FROM l1 WHERE op <> 'D'
         )
         SELECT c_nationkey, count(*) AS cnt,
           CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS sum_val,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) / count(*), 6)
             AS avg_val
         FROM s1 GROUP BY c_nationkey ORDER BY c_nationkey""",
    // The V2 catalog read + bucket layout are serving machinery only:
    // the oracle replays BOTH store maintainers (the MERGE and the
    // rollup refresh) and joins them in plain SQL.
    "c38_cdc_spj" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         state AS (
           SELECT c_custkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         ),
         touched AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= DATE '1995-06-01'
         ),
         pre AS (
           SELECT o_custkey, count(*) AS order_cnt,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
           FROM orders WHERE o_orderdate < DATE '1995-06-01' GROUP BY o_custkey
         ),
         refreshed AS (
           SELECT o.o_custkey, count(*) AS order_cnt,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
           FROM orders o JOIN touched t ON o.o_custkey = t.o_custkey
           GROUP BY o.o_custkey
         ),
         activity AS (
           SELECT * FROM refreshed
           UNION ALL
           SELECT * FROM pre
           WHERE o_custkey NOT IN (SELECT o_custkey FROM touched)
         )
         SELECT c_mktsegment, count(*) AS cnt,
           CAST(SUM(CAST(total_spend AS DECIMAL(18,4))) AS DOUBLE) AS spend,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM state JOIN activity ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // same MERGE replay as c38_cdc_lookup — the catalog read path and
    // its bucket pruning must be row-identical to the plain recompute
    "c38_cdc_cat_lookup" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         )
         SELECT * FROM merged
         WHERE c_custkey IN (SELECT i FROM generate_series(1, 200, 7) AS t(i))
         ORDER BY c_custkey""",
    // catalog DPP serving ≡ merged snapshot joined to the dim's keys
    "c38_cdc_cat_dpp" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         ),
         dim AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1995-06-08'
         )
         SELECT m.c_custkey, m.c_name, m.c_acctbal, m.c_mktsegment
         FROM merged m JOIN dim d ON m.c_custkey = d.o_custkey
         ORDER BY m.c_custkey""",
    // footer-statistics aggregates ≡ the same aggregates recomputed over
    // the merged snapshot (the pushdown must never change an answer)
    "c38_cdc_stats_agg" ->
      """WITH log AS (
           SELECT o_custkey AS c_custkey,
                  'upd#' || o_orderkey AS c_name,
                  CAST(o_custkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  o_orderpriority AS c_mktsegment,
                  o_orderdate AS chg_ts, o_orderkey AS chg_seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders
         ),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number()
               OVER (PARTITION BY c_custkey ORDER BY chg_ts DESC, chg_seq DESC) AS rn
             FROM log)
           WHERE rn = 1
         ),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM latest WHERE op <> 'D'
         )
         SELECT min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
                min(c_name) AS min_name, max(c_name) AS max_name,
                count(c_mktsegment) AS cnt_seg, count(*) AS cnt_all
         FROM merged""",
    // history metadata ≡ replayed MERGE cardinality: the manifest's
    // recorded per-version row counts must equal the true surviving-key
    // counts of each version's last-writer-wins apply
    "c38_cdc_history" ->
      """WITH chg AS (
           SELECT o_custkey AS k, o_orderdate AS ts, o_orderkey AS seq,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders),
         l0 AS (SELECT k, op FROM (
             SELECT k, op, row_number() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
             FROM chg WHERE ts < DATE '1995-06-01') WHERE rn = 1),
         l1 AS (SELECT k, op FROM (
             SELECT k, op, row_number() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
             FROM chg WHERE ts >= DATE '1995-06-01') WHERE rn = 1),
         s0 AS (SELECT c.c_custkey AS k,
                       CASE WHEN l0.op IS NULL OR l0.op = 'U' THEN 1 ELSE 0 END AS present
                FROM customer c LEFT JOIN l0 ON l0.k = c.c_custkey),
         s1 AS (SELECT s0.k,
                       CASE WHEN l1.op IS NOT NULL
                            THEN CASE WHEN l1.op = 'U' THEN 1 ELSE 0 END
                            ELSE s0.present END AS present
                FROM s0 LEFT JOIN l1 ON l1.k = s0.k),
         hist AS (
           SELECT CAST(0 AS BIGINT) AS version,
                  (SELECT CAST(sum(present) AS BIGINT) FROM s0) AS n_rows
           UNION ALL
           SELECT CAST(1 AS BIGINT),
                  (SELECT CAST(sum(present) AS BIGINT) FROM s1))
         SELECT version, n_rows,
                n_rows - lag(n_rows) OVER (ORDER BY version) AS rows_delta
         FROM hist ORDER BY version""",
    // catalog functions ≡ first-principles arithmetic: cosine/l2 via
    // sequential dot products (same accumulation order as the engine's
    // loops), morton3 via the expression's own emitted bit interleave
    "c39_fn_catalog" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb,
                  list_transform(range(1, len(a.v) + 1), i -> a.v[i] - b.v[i]) AS dv
           FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         )
         SELECT id_a, id_b,
           round(list_dot_product(va, vb)
                 / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 9) AS cos,
           round(sqrt(list_dot_product(dv, dv)), 9) AS l2,
           ${graft.catalyst.Morton3Expression.oracleSql(
             "(id_a % 1024)", "(id_b % 1024)", "((id_a + id_b) % 1024)")} AS zkey
         FROM p
         ORDER BY id_a""",
    "c36_recursive_cte" ->
      """WITH RECURSIVE bounds AS (
           SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
                  CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
           FROM orders
         ),
         months(m, hi) AS (
           SELECT lo, hi FROM bounds
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi
         ),
         rev AS (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  count(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders
           GROUP BY 1
         )
         SELECT months.m,
                CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
                COALESCE(rev.revenue, CAST(0.0 AS DOUBLE)) AS revenue
         FROM months LEFT JOIN rev ON rev.m = months.m
         ORDER BY months.m"""
  )
}
