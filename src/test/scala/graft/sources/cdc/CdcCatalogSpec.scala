package graft.sources.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for the DSv2 CDC-store catalog (sources/cdc):
  *  - a registered table serves exactly readPartitionedSnapshot (latest
  *    and version-pinned), through an additive schema evolution;
  *  - column pruning reaches the parquet read (scan readSchema shrinks);
  *  - the scan reports its bucket layout: joining two stores keyed and
  *    bucketed alike plans with ZERO Exchange (storage-partitioned join)
  *    and returns the same rows as the shuffled plan with V2 bucketing
  *    disabled;
  *  - bucket identity: every served row's key hashes to the bucket of
  *    the partition that produced it (the function catalog's bucket()
  *    IS the store's layout hash).
  */
class CdcCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val nBuckets = 8

  private def log(rows: (Long, String, Double, Long, String)*): DataFrame =
    rows.toDF("k", "name", "bal", "seq", "op")

  /** Two-batch store over a 40-key seed; returns its path. */
  private def buildStore(tag: String, seedRows: Seq[(Long, String, Double)]): String = {
    val store = java.nio.file.Files.createTempDirectory(s"graft_cat_$tag").toString
    val seed = seedRows.toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      log((1L, "b0", 10.0, 100L, "U"), (39L, "gone", 0.0, 101L, "D")),
      seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 0L)
    Cdc.processPartitionedBatch(
      log((2L, "b1", 22.0, 200L, "U"), (41L, "new", 41.0, 201L, "I")),
      seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 1L)
    store
  }

  private def seed40(tag: String): Seq[(Long, String, Double)] =
    (1L to 40L).map(k => (k, s"$tag$k", k * 1.0))

  private def collectRows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "name", "bal").as[(Long, String, Double)].collect().toSet

  test("catalog table serves the snapshot — latest, version-pinned, and post-evolution") {
    val store = buildStore("serve", seed40("s"))
    CdcCatalog.register("cat_serve", store, keys, nBuckets)
    CdcCatalog.register("cat_serve_v0", store, keys, nBuckets, version = Some(0L))

    assert(collectRows(spark.table("graft.cat_serve")) ===
      collectRows(Cdc.readPartitionedSnapshot(spark, store)))
    assert(collectRows(spark.table("graft.cat_serve_v0")) ===
      collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(0L))))

    // additive evolution: batch 2 adds `tier`; the catalog table serves
    // the widened schema with NULLs for pre-evolution rows
    val evo = Seq((3L, "b2", 33.0, "gold", 300L, "U"))
      .toDF("k", "name", "bal", "tier", "seq", "op")
    Cdc.processPartitionedBatch(evo, seed40("s").toDF("k", "name", "bal"), keys,
      Seq(col("seq")), col("op"), store, nBuckets, 2L,
      payloadCols = Seq("k", "name", "bal", "tier"))
    val served = spark.table("graft.cat_serve") // re-resolves to v2
    assert(served.columns.toSeq === Seq("k", "name", "bal", "tier"))
    val tiers = served.select("k", "tier").as[(Long, Option[String])].collect().toMap
    assert(tiers(3L) === Some("gold"))
    assert(tiers(2L) === None, "pre-evolution row must serve NULL for the added column")
    CdcCatalog.unregister("cat_serve"); CdcCatalog.unregister("cat_serve_v0")
  }

  test("column pruning reaches the scan; bucket identity holds for every served row") {
    val store = buildStore("prune", seed40("p"))
    CdcCatalog.register("cat_prune", store, keys, nBuckets)
    val df = spark.table("graft.cat_prune").select("k", "bal")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("k", "bal"),
      s"projection not pushed: ${scans.head.scan.readSchema()}")
    assert(df.count() === 40)

    // every row arrives from the partition whose bucket its key hashes to
    val withBucket = spark.table("graft.cat_prune")
      .select(col("k"), spark_partition_id().as("pid"),
        Cdc.bucketExpr(keys, nBuckets).as("b"))
      .as[(Long, Int, Int)].collect()
    // partition ids follow planInputPartitions order: pid == bucket
    withBucket.foreach { case (k, pid, b) =>
      assert(pid === b, s"key $k served from partition $pid but hashes to bucket $b")
    }
    CdcCatalog.unregister("cat_prune")
  }

  test("storage-partitioned join: two aligned stores join with ZERO exchange, " +
      "rows identical to the shuffled plan") {
    val storeA = buildStore("spjA", seed40("a"))
    val storeB = buildStore("spjB", seed40("b"))
    CdcCatalog.register("cat_spj_a", storeA, keys, nBuckets)
    CdcCatalog.register("cat_spj_b", storeB, keys, nBuckets)

    // hint("merge"): scans report real (tiny) sizes, so without it the
    // fixture-scale store broadcasts — the hint pins the SMJ shape whose
    // exchange-freeness this law exists to assert
    def joined(): DataFrame = spark.table("graft.cat_spj_a").as("a")
      .hint("merge")
      .join(spark.table("graft.cat_spj_b").as("b"), "k")
      .select(col("k"), col("a.name").as("an"), col("b.name").as("bn"),
        (col("a.bal") + col("b.bal")).as("tot"))

    val spj = joined()
    val rows = spj.as[(Long, String, String, Double)].collect().toSet
    val plan = spj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"SPJ shuffled:\n${plan.take(2500)}")

    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = joined()
      val shuffledPlan = shuffled.queryExecution.executedPlan.toString
      assert(shuffledPlan.contains("Exchange"),
        s"control plan unexpectedly exchange-free:\n${shuffledPlan.take(2000)}")
      assert(shuffled.as[(Long, String, String, Double)].collect().toSet === rows,
        "SPJ changed the join result")
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
    CdcCatalog.unregister("cat_spj_a"); CdcCatalog.unregister("cat_spj_b")
  }

  private def scannedBuckets(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec =>
      b.partitions.flatten.collect { case p: CdcBucketPartition => p.bucket }
    }.flatten

  test("key filters prune buckets; non-key filters scan everything; rows stay exact") {
    val store = buildStore("bprune", seed40("q"))
    CdcCatalog.register("cat_bprune", store, keys, nBuckets)
    val t = spark.table("graft.cat_bprune")

    def bucketOf(k: Long): Int =
      Seq(k).toDF("k").select(Cdc.bucketExpr(keys, nBuckets)).as[Int].head()

    // point equality → exactly the key's bucket, and only its rows
    val eq = t.filter(col("k") === 7L)
    assert(scannedBuckets(eq) === Seq(bucketOf(7L)))
    assert(collectRows(eq) === Set((7L, "q7", 7.0)))

    // bounded IN panel → the union of the panel's buckets
    val panel = Seq(3L, 7L, 21L)
    val in = t.filter(col("k").isin(panel: _*))
    assert(scannedBuckets(in).toSet === panel.map(bucketOf).toSet)
    assert(in.as[(Long, String, Double)].collect().map(_._1).toSet === panel.toSet)

    // a non-key predicate cannot prune layout: every bucket scans
    val nonKey = t.filter(col("bal") > 100.0)
    assert(scannedBuckets(nonKey).length === nBuckets)
    CdcCatalog.unregister("cat_bprune")
  }

  test("composite-key store: pruning needs EVERY key pinned; scan reports real bytes") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat_comp").toString
    val seed = (1L to 30L).map(k => (k, (k % 3).toString, s"v$k")).toDF("k1", "k2", "v")
    Cdc.processPartitionedBatch(
      Seq((1L, "1", "upd", 9L, "U")).toDF("k1", "k2", "v", "seq", "op"),
      seed, Seq("k1", "k2"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("cat_comp", store, Seq("k1", "k2"), nBuckets)
    val t = spark.table("graft.cat_comp")

    val both = t.filter(col("k1") === 5L && col("k2") === "2")
    assert(scannedBuckets(both).length === 1)
    assert(both.select("v").as[String].collect().toSeq === Seq("v5"))

    // only one of two keys pinned → the bucket hash is undetermined
    val half = t.filter(col("k1") === 5L)
    assert(scannedBuckets(half).length === nBuckets)

    // reported statistics: real pruned bytes, not the default "huge"
    val full = t.queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = both.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(full > 0 && full < BigInt(Long.MaxValue) / 2, s"stats not reported: $full")
    assert(pruned < full, s"pruned scan ($pruned) should report fewer bytes than full ($full)")
    CdcCatalog.unregister("cat_comp")
  }

  test("runtime bucket filtering: a broadcast dim's key panel prunes store buckets " +
      "before any store file is opened") {
    val store = buildStore("rf", seed40("r"))
    CdcCatalog.register("cat_rf", store, keys, nBuckets)
    // the dim's SELECTIVE filter is what DPP forwards: its surviving key
    // values arrive at the scan as a runtime IN panel. The dim must be a
    // file-backed scan — a LocalRelation would constant-fold the filter
    // away before the PartitionPruning rule looks for it.
    val dimPath = java.nio.file.Files.createTempDirectory("graft_cat_rf_dim").toString
    Seq((5L, "x"), (7L, "x"), (9L, "y")).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val conf = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    spark.conf.set(conf, "false") // force the fallback benefit estimate at fixture scale
    try {
      val df = spark.table("graft.cat_rf")
        .join(dim.filter(col("tag") === "x"), "k")
        .select(col("k"), col("name"))
      // collect df ITSELF (not a derived Dataset): runtime filtering
      // happens at execution, on this QueryExecution's scan instance
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows === Set((5L, "r5"), (7L, "r7")))
      // descend through AQE wrappers: QueryStageExec keeps its subtree in
      // `plan`, not `children`, so a plain collect can't see the scan
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[CdcScan] = p.collect {
        case b: BatchScanExec => Seq(b.scan).collect { case s: CdcScan => s }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      val scans = scansIn(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString.take(2000))
      def bucketOf(k: Long): Int =
        Seq(k).toDF("k").select(Cdc.bucketExpr(keys, nBuckets)).as[Int].head()
      assert(scans.head.runtimePrunedBuckets === Some(Set(bucketOf(5L), bucketOf(7L))),
        s"runtime panel did not reach the scan: ${scans.head.runtimePrunedBuckets}")
    } finally spark.conf.unset(conf)
    CdcCatalog.unregister("cat_rf")
  }

  test("composite-key runtime filtering: a join pinning ALL keys prunes buckets via the " +
      "per-key panels' cross-product; a join on ONE key still row-group-filters, no bucket prune") {
    val store = java.nio.file.Files.createTempDirectory("graft_cat_rf2").toString
    val seed = (1L to 40L).map(k => (k, (k % 4).toString, s"v$k")).toDF("k1", "k2", "v")
    Cdc.processPartitionedBatch(
      Seq((1L, "1", "upd", 9L, "U")).toDF("k1", "k2", "v", "seq", "op"),
      seed, Seq("k1", "k2"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("cat_rf2", store, Seq("k1", "k2"), nBuckets)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_cat_rf2_dim").toString
    Seq((5L, "1", "x"), (9L, "1", "x"), (11L, "3", "y")).toDF("k1", "k2", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val conf = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    spark.conf.set(conf, "false")
    try {
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[CdcScan] = p.collect {
        case b: BatchScanExec => Seq(b.scan).collect { case s: CdcScan => s }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      def bucketOf(k1: Long, k2: String): Int =
        Seq((k1, k2)).toDF("k1", "k2")
          .select(Cdc.bucketExpr(Seq("k1", "k2"), nBuckets)).as[Int].head()
      // BOTH keys joined → cross-product panel {5,9}×{1} prunes buckets
      val both = spark.table("graft.cat_rf2")
        .join(dim.filter(col("tag") === "x"), Seq("k1", "k2"))
        .select(col("k1"), col("k2"), col("v"))
      val rows = both.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows === Set((5L, "1", "v5"), (9L, "1", "v9")))
      val scans = scansIn(both.queryExecution.executedPlan)
      assert(scans.nonEmpty, both.queryExecution.executedPlan.toString.take(1500))
      assert(scans.head.runtimePrunedBuckets ===
        Some(Set(bucketOf(5L, "1"), bucketOf(9L, "1"))),
        s"composite runtime panel did not prune: ${scans.head.runtimePrunedBuckets}")
      // only ONE of two keys joined → the composite hash is undetermined:
      // no bucket pruning, rows still exact
      val half = spark.table("graft.cat_rf2")
        .join(dim.filter(col("tag") === "y").select("k1"), Seq("k1"))
        .select(col("k1"), col("v"))
      val halfRows = half.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(halfRows === Set((11L, "v11")))
      val halfScans = scansIn(half.queryExecution.executedPlan)
      assert(halfScans.headOption.forall(_.runtimePrunedBuckets.isEmpty),
        s"a single key must not determine a composite bucket: ${halfScans.head.runtimePrunedBuckets}")
    } finally {
      spark.conf.unset(conf)
      CdcCatalog.unregister("cat_rf2")
    }
  }

  test("writeTo append is keyed UPSERT: one new version through the MERGE path; " +
      "INSERT INTO works; OVERWRITE and version-pinned writes refuse") {
    val store = buildStore("wr", seed40("w"))
    CdcCatalog.register("cat_wr", store, keys, nBuckets)
    CdcCatalog.register("cat_wr_v0", store, keys, nBuckets, version = Some(0L))
    val v1 = Cdc.manifestVersions(spark, store).max

    // DataFrame append: update key 5, insert key 50
    Seq((5L, "upd5", 55.0), (50L, "new50", 50.0)).toDF("k", "name", "bal")
      .writeTo("graft.cat_wr").append()
    assert(Cdc.manifestVersions(spark, store).max === v1 + 1, "append must commit ONE version")
    val afterA = collectRows(spark.table("graft.cat_wr"))
    assert(afterA.contains((5L, "upd5", 55.0)) && afterA.contains((50L, "new50", 50.0)))
    assert(afterA.contains((3L, "w3", 3.0)), "untouched keys must survive the append")

    // the append is a real MERGE commit: it rides the change feed
    val feed = Cdc.changesBetweenCdf(spark, store, v1, v1 + 1, keys)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(feed === Set((5L, "update_preimage"), (5L, "update_postimage"), (50L, "insert")),
      s"unexpected feed: $feed")

    // SQL INSERT INTO: same path
    spark.sql("INSERT INTO graft.cat_wr VALUES (6, 'sql6', 66.0)")
    assert(collectRows(spark.table("graft.cat_wr")).contains((6L, "sql6", 66.0)))
    assert(Cdc.manifestVersions(spark, store).max === v1 + 2)

    // refusals: OVERWRITE, and writes to a version pin
    val e1 = intercept[Exception] {
      spark.sql("INSERT OVERWRITE graft.cat_wr VALUES (1, 'x', 0.0)")
    }
    assert(e1.getMessage.contains("append-only") ||
      Option(e1.getCause).exists(_.getMessage.contains("append-only")), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((1L, "x", 0.0)).toDF("k", "name", "bal").writeTo("graft.cat_wr_v0").append()
    }
    assert(e2.getMessage.contains("version-pinned") ||
      Option(e2.getCause).exists(_.getMessage.contains("version-pinned")), e2.getMessage)
    CdcCatalog.unregister("cat_wr"); CdcCatalog.unregister("cat_wr_v0")
  }

  test("SQL time travel: VERSION AS OF pins a commit; TIMESTAMP AS OF resolves " +
      "commit times and is loud before the oldest retained") {
    val store = buildStore("tt", seed40("t"))
    CdcCatalog.register("cat_tt", store, keys, nBuckets)
    try {
      assert(collectRows(spark.sql("SELECT * FROM graft.cat_tt VERSION AS OF 0")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(0L))))
      assert(collectRows(spark.sql("SELECT * FROM graft.cat_tt VERSION AS OF 1")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(1L))))
      intercept[Exception](spark.sql("SELECT * FROM graft.cat_tt VERSION AS OF 9").collect())
      // pin the commit wall-clock deterministically (the _SUCCESS mtime IS
      // the commit timestamp): v0 at 1970-01-02T00:00Z, v1 a day later
      val day = 86400000L
      assert(new java.io.File(s"$store/manifest/v=0/_SUCCESS").setLastModified(day))
      assert(new java.io.File(s"$store/manifest/v=1/_SUCCESS").setLastModified(2 * day))
      assert(Cdc.versionCommitTimes(spark, store) === Seq(0L -> day, 1L -> 2 * day))
      assert(collectRows(spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-02 12:00:00'")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(0L))))
      assert(collectRows(spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-03 00:00:00'")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(1L))))
      val e = intercept[Exception](spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-01 06:00:00'").collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("predates the oldest retained commit")),
        s"expected the loud pre-history error, got: ${messages(e).mkString(" | ")}")

      // ACROSS A VACUUM: commit v2 (day 3), vacuum to the newest two
      // versions — v0's era is GONE, so a timestamp that used to resolve
      // v0 must refuse loudly (serving v1 instead would silently
      // misrepresent history), while newest-≤-t selection keeps working
      // for the retained window.
      Cdc.processPartitionedBatch(
        log((4L, "b2", 44.0, 300L, "U")),
        Seq.empty[(Long, String, Double)].toDF("k", "name", "bal"),
        keys, Seq(col("seq")), col("op"), store, nBuckets, 2L)
      assert(new java.io.File(s"$store/manifest/v=2/_SUCCESS").setLastModified(3 * day))
      Cdc.vacuum(spark, store, keepVersions = 2)
      assert(Cdc.versionCommitTimes(spark, store) === Seq(1L -> 2 * day, 2L -> 3 * day))
      val eV = intercept[Exception](spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-02 12:00:00'").collect())
      assert(messages(eV).exists(_.contains("predates the oldest retained commit")),
        s"vacuumed-era timestamp must refuse, got: ${messages(eV).mkString(" | ")}")
      assert(collectRows(spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-03 12:00:00'")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(1L))))
      assert(collectRows(spark.sql(
        "SELECT * FROM graft.cat_tt TIMESTAMP AS OF '1970-01-04 00:00:00'")) ===
        collectRows(Cdc.readPartitionedSnapshot(spark, store, Some(2L))))
    } finally CdcCatalog.unregister("cat_tt")
  }

  test("DELETE FROM is a keyed MERGE: =/IN key panels delete through the metadata-only " +
      "bucket path; wider predicates take the row-level scan; pins and TRUNCATE refuse") {
    val store = buildStore("del", seed40("d"))
    CdcCatalog.register("cat_del", store, keys, nBuckets)
    CdcCatalog.register("cat_del_v0", store, keys, nBuckets, version = Some(0L))
    try {
      val v1 = Cdc.manifestVersions(spark, store).max
      spark.sql("DELETE FROM graft.cat_del WHERE k = 5")
      assert(Cdc.manifestVersions(spark, store).max === v1 + 1, "delete must commit ONE version")
      val after1 = collectRows(spark.table("graft.cat_del"))
      assert(!after1.exists(_._1 == 5L) && after1.exists(_._1 == 3L))
      spark.sql("DELETE FROM graft.cat_del WHERE k IN (7, 9, 7)")
      val after2 = collectRows(spark.table("graft.cat_del"))
      assert(after2.map(_._1).intersect(Set(5L, 7L, 9L)).isEmpty)
      assert(after2.exists(_._1 == 3L), "untouched keys must survive")
      // the deletes ride the change feed like any other MERGE commit
      val feed = Cdc.changesBetweenCdf(spark, store, v1 + 1, v1 + 2, keys)
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(feed === Set((7L, "delete"), (9L, "delete")), s"unexpected feed: $feed")
      // predicates WIDER than a key panel fall through to the row-level
      // path (CdcRowLevelSpec owns its laws): a target scan finds the
      // matched rows and the delete still commits ONE version
      val vNow = Cdc.manifestVersions(spark, store).max
      spark.sql("DELETE FROM graft.cat_del WHERE k = 3 AND bal > 1.0")
      assert(Cdc.manifestVersions(spark, store).max === vNow + 1)
      val after3 = collectRows(spark.table("graft.cat_del"))
      assert(!after3.exists(_._1 == 3L) && after3.exists(_._1 == 4L))
      // refusals stay loud and commit nothing: pinned version, TRUNCATE
      intercept[Exception](spark.sql("DELETE FROM graft.cat_del_v0 WHERE k = 3"))
      intercept[Exception](spark.sql("TRUNCATE TABLE graft.cat_del"))
      assert(Cdc.manifestVersions(spark, store).max === vNow + 1, "a refused delete committed")
      assert(collectRows(spark.table("graft.cat_del")) === after3)
    } finally { CdcCatalog.unregister("cat_del"); CdcCatalog.unregister("cat_del_v0") }
  }

  test("manifest row counts reach the planner: numRows + key NDV on the scan, " +
      "pruned scans report the pruned sum, and CBO reorders a worst-order 3-table join") {
    // three stores with very different cardinalities: fact (2000 keys),
    // mid (400), tiny dim (12)
    def mk(tag: String, ks: Long): String = {
      val store = java.nio.file.Files.createTempDirectory(s"graft_cbo_$tag").toString
      val seed = (1L to ks).map(k => (k, s"$tag$k", k * 1.0)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        log((1L, s"$tag upd", 1.0, 9L, "U")), seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, 0L)
      store
    }
    val fact = mk("fact", 2000L); val mid = mk("mid", 400L); val dim = mk("dim", 12L)
    CdcCatalog.register("cbo_fact", fact, keys, nBuckets)
    CdcCatalog.register("cbo_mid", mid, keys, nBuckets)
    CdcCatalog.register("cbo_dim", dim, keys, nBuckets)
    try {
      // numRows is the real count; a key-pruned scan reports the pruned sum
      def scanStats(df: DataFrame) = df.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }
        .collectFirst { case s: CdcScan => s.estimateStatistics() }.get
      val full = scanStats(spark.table("graft.cbo_fact"))
      assert(full.numRows().getAsLong === 2000L, s"numRows ${full.numRows()}")
      val kStat = {
        import scala.jdk.CollectionConverters._
        full.columnStats().asScala
          .collectFirst { case (r, cs) if r.fieldNames().mkString(".") == "k" => cs }
          .getOrElse(fail("single-key store must report key NDV"))
      }
      assert(kStat.distinctCount().getAsLong === 2000L)
      val pruned = scanStats(spark.table("graft.cbo_fact").filter(col("k") === 7L))
      assert(pruned.numRows().isPresent && pruned.numRows().getAsLong < 2000L,
        s"pruned scan must report the pruned row sum, got ${pruned.numRows()}")
      // CBO join reorder, catalog edition (the c37 pattern): worst
      // written order — fact ⋈ mid first, the tiny dim last
      def joinTree(cbo: Boolean): String = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
        try spark.table("graft.cbo_fact").as("f")
          .join(spark.table("graft.cbo_mid").as("m"), col("f.k") === col("m.k"))
          .join(spark.table("graft.cbo_dim").as("d"), col("f.k") === col("d.k"))
          .select(col("f.name"), col("m.bal"), col("d.bal"))
          .queryExecution.optimizedPlan.toString
        finally {
          spark.conf.unset("spark.sql.cbo.enabled")
          spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
        }
      }
      val before = joinTree(cbo = false)
      val after = joinTree(cbo = true)
      assert(before != after,
        s"CostBasedJoinReorder left the worst-order store join untouched:\n${after.take(2500)}")
      // rows stay exact under reorder
      assert(spark.table("graft.cbo_fact").as("f")
        .join(spark.table("graft.cbo_mid").as("m"), col("f.k") === col("m.k"))
        .join(spark.table("graft.cbo_dim").as("d"), col("f.k") === col("d.k"))
        .count() === 12L)
    } finally Seq("cbo_fact", "cbo_mid", "cbo_dim").foreach(CdcCatalog.unregister)
  }

  test("per-column footer statistics reach the CBO: min/max/nullCount on the scan, and " +
      "a selective range filter shrinks the estimate enough to flip the join build side") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def mk(tag: String, ks: Long): String = {
      val store = java.nio.file.Files.createTempDirectory(s"graft_cs_$tag").toString
      val seed = (1L to ks).map(k => (k, s"$tag$k", k * 1.0)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        log((1L, s"$tag upd", 1.0, 9L, "U")), seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, 0L)
      store
    }
    val big = mk("big", 5000L); val med = mk("med", 800L)
    CdcCatalog.register("cs_big", big, keys, nBuckets)
    CdcCatalog.register("cs_med", med, keys, nBuckets)
    try {
      // the scan itself reports folded column statistics
      val st = spark.table("graft.cs_big").queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }
        .collectFirst { case s: CdcScan => s.estimateStatistics() }.get
      import scala.jdk.CollectionConverters._
      val byName = st.columnStats().asScala.map { case (r, cs) =>
        r.fieldNames().mkString(".") -> cs }.toMap
      val bal = byName("bal")
      assert(bal.nullCount().getAsLong === 0L)
      assert(bal.min().get() === java.lang.Double.valueOf(1.0), s"min ${bal.min()}")
      assert(bal.max().get() === java.lang.Double.valueOf(5000.0), s"max ${bal.max()}")
      assert(byName("name").nullCount().getAsLong === 0L)
      assert(byName("k").distinctCount().getAsLong === 5000L)
      // CBO: the same stats drive filter-selectivity estimation — an
      // unselective filter keeps the 800-row store as the broadcast
      // side; a tight range on bal (≈10 of 5000 rows) makes the filtered
      // big side the cheaper build, flipping it (exactly what ANALYZEd
      // column stats buy warehouse tables)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        def buildsOn(pred: org.apache.spark.sql.Column): String = {
          val j = spark.table("graft.cs_big").filter(pred).as("b")
            .join(spark.table("graft.cs_med").as("m"), col("b.k") === col("m.k"))
            .select(col("b.bal"), col("m.bal"))
          val bhj = j.queryExecution.sparkPlan
            .collectFirst { case b: BroadcastHashJoinExec => b }
            .getOrElse(fail(s"expected a broadcast join:\n${j.queryExecution.sparkPlan}"))
          val build = bhj.buildSide match {
            case BuildLeft => bhj.left
            case BuildRight => bhj.right
          }
          // judge by the build side's own SCAN node — the plain subtree
          // STRING would also match the other table via the runtime-DPP
          // subquery text riding the probe side's RuntimeFilters
          val desc = build
            .collectFirst { case b: BatchScanExec => b.scan.description() }
            .getOrElse(fail(s"no scan under the build side:\n$build"))
          if (desc.contains("cs_big")) "big"
          else if (desc.contains("cs_med")) "med"
          else fail(s"unrecognized build side scan: $desc")
        }
        assert(buildsOn(col("bal") > 0.0) === "med",
          "unselective filter must keep the smaller store as the build side")
        assert(buildsOn(col("bal") > 4990.0) === "big",
          "selective filter estimate did not flip the build side")
      } finally spark.conf.unset("spark.sql.cbo.enabled")
    } finally { CdcCatalog.unregister("cs_big"); CdcCatalog.unregister("cs_med") }
  }

  test("COUNT(*) is metadata-only: answered from manifest row counts with zero file IO; " +
      "filtered / nullable-column counts keep the real scan") {
    val store = buildStore("cnt", seed40("n"))
    CdcCatalog.register("cat_cnt", store, keys, nBuckets)
    CdcCatalog.register("cat_cnt_v0", store, keys, nBuckets, version = Some(0L))
    try {
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      def scanOf(df: DataFrame) = scansIn(df.queryExecution.executedPlan).head
      val expected = Cdc.readPartitionedSnapshot(spark, store).count()
      val cnt = spark.table("graft.cat_cnt").groupBy().count()
      assert(cnt.as[Long].head() === expected)
      val scan = scanOf(cnt)
      assert(scan.isInstanceOf[CdcCountScan],
        s"COUNT(*) did not take the metadata path: ${scan.description()}")
      assert(scan.description().contains("no file IO"))
      // COUNT(merge key) — non-null by contract — also metadata
      val ck = spark.table("graft.cat_cnt").agg(count(col("k")))
      assert(ck.as[Long].head() === expected)
      assert(scanOf(ck).isInstanceOf[CdcCountScan])
      // COUNT(*) and COUNT(key) together: Spark rewrites COUNT(non-null
      // key) to COUNT(*) and DEDUPES identical pushed expressions, so the
      // scan may see 1..n expressions — whatever arrives must stay on the
      // metadata path, carry NO duplicate schema field names, and map
      // positionally to exact values on every output
      val both = spark.table("graft.cat_cnt").agg(count(lit(1)), count(col("k")))
      val bothScan = scanOf(both)
      assert(bothScan.isInstanceOf[CdcCountScan], bothScan.description())
      assert(bothScan.readSchema().fieldNames.distinct.length ===
        bothScan.readSchema().length,
        s"duplicate pushed-count field names: ${bothScan.readSchema().fieldNames.mkString(",")}")
      assert(both.collect().head === org.apache.spark.sql.Row(expected, expected))
      // a version pin counts ITS version, not the latest
      val v0 = spark.table("graft.cat_cnt_v0").groupBy().count()
      assert(v0.as[Long].head() ===
        Cdc.readPartitionedSnapshot(spark, store, Some(0L)).count())
      assert(scanOf(v0).isInstanceOf[CdcCountScan])
      // a filter forces the real scan (residual predicates need rows)
      val filtered = spark.table("graft.cat_cnt").filter(col("bal") > 10.0).groupBy().count()
      assert(scanOf(filtered).isInstanceOf[CdcScan], scanOf(filtered).description())
      assert(filtered.as[Long].head() ===
        Cdc.readPartitionedSnapshot(spark, store).filter(col("bal") > 10.0).count())
      // a NULLABLE column's count can't come from the manifest — it takes
      // the footer-statistics path (null counts per row group, no decode)
      val cname = spark.table("graft.cat_cnt").agg(count(col("name")))
      assert(scanOf(cname).isInstanceOf[CdcStatsScan], scanOf(cname).description())
      assert(cname.as[Long].head() === expected) // fixture has no null names
    } finally { CdcCatalog.unregister("cat_cnt"); CdcCatalog.unregister("cat_cnt_v0") }
  }

  test("MIN/MAX/COUNT(col) push to footer statistics: exact across numeric, string, " +
      "NULLs, version pins, and additive evolution — with zero page decode") {
    val store = buildStore("stats", seed40("t"))
    // plant NULL names so count(name) genuinely differs from count(*)
    Cdc.processPartitionedBatch(
      Seq((5L, Option.empty[String], 5.5, 300L, "U"), (6L, Option.empty[String], -6.0, 301L, "U"))
        .toDF("k", "name", "bal", "seq", "op"),
      seed40("t").toDF("k", "name", "bal"), keys, Seq(col("seq")), col("op"),
      store, nBuckets, 2L)
    // string min/max pushdown is OPT-IN per registration (parquet-mr
    // silently truncates binary footer statistics under
    // parquet.statistics.truncate.length and marks nothing); this store
    // is written by the engine's own non-truncating writer — the
    // documented-safe case. `cat_stats_plain` serves the same store
    // without the opt-in.
    CdcCatalog.register("cat_stats", store, keys, nBuckets, trustStringStats = true)
    CdcCatalog.register("cat_stats_v0", store, keys, nBuckets, version = Some(0L),
      trustStringStats = true)
    CdcCatalog.register("cat_stats_plain", store, keys, nBuckets)
    try {
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      def scanOf(df: DataFrame) = scansIn(df.queryExecution.executedPlan).head
      val aggCols = Seq(min(col("bal")), max(col("bal")), min(col("name")),
        max(col("name")), count(col("name")), count(col("k")), count(lit(1)))
      val pushedDf = spark.table("graft.cat_stats").agg(aggCols.head, aggCols.tail: _*)
      val statScan = scanOf(pushedDf)
      assert(statScan.isInstanceOf[CdcStatsScan],
        s"min/max did not take the footer-stats path: ${statScan.description()}")
      assert(statScan.description().contains("no row decode"))
      val oracle = Cdc.readPartitionedSnapshot(spark, store).agg(aggCols.head, aggCols.tail: _*)
      assert(pushedDf.collect().toSeq === oracle.collect().toSeq)
      // NULL names really were excluded from count(name)
      val Row6 = oracle.collect().head
      assert(Row6.getLong(4) < Row6.getLong(6), "planted NULLs must lower count(name)")
      // version pin answers from ITS files
      val v0 = spark.table("graft.cat_stats_v0").agg(max(col("bal")), min(col("name")))
      assert(scanOf(v0).isInstanceOf[CdcStatsScan])
      assert(v0.collect().toSeq ===
        Cdc.readPartitionedSnapshot(spark, store, Some(0L))
          .agg(max(col("bal")), min(col("name"))).collect().toSeq)
      // a filter keeps the real scan (footers can't apply residuals)
      val filtered = spark.table("graft.cat_stats").filter(col("bal") > 10.0).agg(min(col("bal")))
      assert(scanOf(filtered).isInstanceOf[CdcScan], scanOf(filtered).description())
      // grouping keeps the real scan
      val grouped = spark.table("graft.cat_stats").groupBy(col("name")).agg(min(col("bal")))
      assert(scansIn(grouped.queryExecution.executedPlan).head.isInstanceOf[CdcScan])
      // additive evolution: carried buckets' files predate `tier`; their
      // chunks contribute nothing (all-NULL by construction) and the
      // pushed min/max/count still answer exactly
      Cdc.processPartitionedBatch(
        Seq((7L, "evo7", 7.7, 9.0, 400L, "U"), (41L, "evo41", 41.0, 1.5, 401L, "U"))
          .toDF("k", "name", "bal", "tier", "seq", "op"),
        seed40("t").toDF("k", "name", "bal"), keys, Seq(col("seq")), col("op"),
        store, nBuckets, 3L, payloadCols = Seq("k", "name", "bal", "tier"))
      val evoAggs = Seq(min(col("tier")), max(col("tier")), count(col("tier")), count(lit(1)))
      val evoDf = spark.table("graft.cat_stats").agg(evoAggs.head, evoAggs.tail: _*)
      assert(scanOf(evoDf).isInstanceOf[CdcStatsScan], scanOf(evoDf).description())
      assert(evoDf.collect().toSeq ===
        Cdc.readPartitionedSnapshot(spark, store).agg(evoAggs.head, evoAggs.tail: _*)
          .collect().toSeq)
      // by DEFAULT a string min/max refuses the footer path (parquet-mr
      // truncation is silent — see the truncating-writer law below) and
      // the whole aggregation takes the real scan, still exact
      val strOff = spark.table("graft.cat_stats_plain").agg(min(col("name")), max(col("bal")))
      assert(scanOf(strOff).isInstanceOf[CdcScan], scanOf(strOff).description())
      assert(strOff.collect().toSeq ===
        Cdc.readPartitionedSnapshot(spark, store)
          .agg(min(col("name")), max(col("bal"))).collect().toSeq)
      // ...while a string-free aggregate still pushes
      val numOnly = spark.table("graft.cat_stats_plain").agg(min(col("bal")), max(col("bal")))
      assert(scanOf(numOnly).isInstanceOf[CdcStatsScan], scanOf(numOnly).description())
    } finally {
      CdcCatalog.unregister("cat_stats"); CdcCatalog.unregister("cat_stats_v0")
      CdcCatalog.unregister("cat_stats_plain")
    }
  }

  test("column mapping through the catalog: a renamed store serves logical names over " +
      "unrewritten physical files — scan, key-panel pruning, pushed aggregates, and " +
      "CBO colstats all translate") {
    val store = buildStore("map", seed40("m"))
    // rename BOTH a payload column and the merge key — files keep the
    // old physical spelling, every catalog surface speaks the new names
    Cdc.renameColumn(spark, store, "name", "title")
    Cdc.renameColumn(spark, store, "k", "id")
    CdcCatalog.register("cat_map", store, Seq("id"), nBuckets, trustStringStats = true)
    try {
      def scanOf(df: DataFrame) = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case b: BatchScanExec => b.scan }
      }.flatten.head
      val served = spark.table("graft.cat_map")
      assert(served.columns.toSeq === Seq("id", "title", "bal"))
      assert(served.select("id", "title", "bal").as[(Long, String, Double)].collect().toSet ===
        Cdc.readPartitionedSnapshot(spark, store)
          .as[(Long, String, Double)].collect().toSet)
      // point read through the RENAMED key: panel still prunes buckets
      // and the reader's parquet filter speaks the physical name
      val point = spark.table("graft.cat_map").filter(col("id") === 5L)
      val pointScan = scanOf(point).asInstanceOf[CdcScan]
      assert(pointScan.description().contains("buckets=1/"), pointScan.description())
      assert(point.select("title").as[String].collect().nonEmpty)
      // pushed footer aggregates fold under the physical spelling
      val agg = spark.table("graft.cat_map")
        .agg(min(col("bal")).as("lo"), max(col("title")).as("hi"), count(col("title")).as("n"))
      assert(scanOf(agg).isInstanceOf[CdcStatsScan], scanOf(agg).description())
      assert(agg.collect().toSeq ===
        Cdc.readPartitionedSnapshot(spark, store)
          .agg(min(col("bal")), max(col("title")), count(col("title")))
          .collect().toSeq)
      // CBO colstats survive the rename (recorded under physical names)
      val st = scanOf(spark.table("graft.cat_map")) match {
        case s: CdcScan => s.estimateStatistics()
      }
      import scala.jdk.CollectionConverters._
      val byName = st.columnStats().asScala.map { case (r, cs) =>
        r.fieldNames().mkString(".") -> cs }.toMap
      assert(byName.contains("bal") && byName("bal").min().isPresent,
        s"colstats lost through rename: ${byName.keySet}")
      assert(byName("id").distinctCount().isPresent, "key NDV lost through rename")
      // the CDF boundary is LOUD: a feed retaining versions from at-or-
      // before the mapping change refuses (those versions' files carry
      // old names — clipping them into the new schema would silently
      // serve NULLs); a feed with nothing retained from before the
      // change serves normally
      val feedDir = java.nio.file.Files.createTempDirectory("graft_map_feed").toString
      // the v0->v1 CDF PREDATES the renames: each version serves its own
      // names, so this feed version is spelled in the old schema — which
      // is exactly why the guard must refuse it
      Cdc.changesBetweenCdf(spark, store, 0L, 1L, Seq("k"))
        .write.mode("overwrite").parquet(s"$feedDir/v=1")
      CdcCatalog.registerFeed("cat_map_feed", store, feedDir)
      try {
        val e = intercept[Exception](spark.table("graft.cat_map_feed").collect())
        assert(e.getMessage.contains("column mapping"),
          s"expected the mapping-boundary refusal, got: ${e.getMessage.take(200)}")
        // vacuuming the straddling history clears the refusal
        val fs = new org.apache.hadoop.fs.Path(feedDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$feedDir/v=1"), true)
        assert(spark.table("graft.cat_map_feed").count() === 0L)
      } finally CdcCatalog.unregister("cat_map_feed")
    } finally CdcCatalog.unregister("cat_map")
  }

  test("metadata tables: x$history and x$files serve the audit surfaces from pure " +
      "driver metadata through plain SQL; unknown suffixes fail with the supported list") {
    val store = buildStore("meta", seed40("q"))
    CdcCatalog.register("cat_meta", store, keys, nBuckets)
    try {
      // $history ≡ describeHistory, row for row, through the SQL surface
      val hist = spark.sql("SELECT * FROM graft.`cat_meta$history` ORDER BY version")
      assert(hist.columns.toSeq ===
        Seq("version", "commit_ts_millis", "buckets", "touched_buckets", "rows",
          "delta_buckets"))
      assert(hist.collect().toSeq ===
        Cdc.describeHistory(spark, store).orderBy("version").collect().toSeq)
      assert(hist.count() === 2L)
      // $files: every live file of the serving layout, bytes that exist
      val files = spark.table("graft.`cat_meta$files`")
      val listed = files.select("path").as[String].collect()
      assert(listed.nonEmpty && listed.forall(p =>
        new java.io.File(new java.net.URI(p).getPath).exists() ||
          new java.io.File(p.stripPrefix("file:")).exists()))
      // files roll up to the manifest's serving state: every (bucket,
      // writer) pair in $files is a manifest entry, and per-bucket
      // bucket_rows matches the recorded counts
      val manifest = Cdc.readManifestFull(spark, store, 1L)
      files.select("_bucket", "_writer", "bucket_rows")
        .as[(Int, Long, Option[Long])].collect().foreach { case (p, w, r) =>
          assert(manifest(p).writers.contains(w), s"bucket $p writer mismatch")
          assert(manifest(p).rows === r, s"bucket $p rows mismatch")
        }
      // per-file EXACT rows (footer-read, distributed) sum to the bucket's
      // manifest-recorded count — the small-file-pressure readout is real
      files.groupBy("_bucket").agg(sum("file_rows").as("s"))
        .collect().foreach { row =>
          assert(Some(row.getLong(1)) === manifest(row.getInt(0)).rows,
            s"bucket ${row.getInt(0)}: per-file rows don't sum to the manifest count")
        }
      // unknown suffix: loud, with the supported list
      val e = intercept[Exception](spark.table("graft.`cat_meta$bogus`").collect())
      assert(e.getMessage.contains("$history"), e.getMessage.take(200))
    } finally CdcCatalog.unregister("cat_meta")
  }

  test("column mapping name collision: after rename + re-add, a pushed filter on the " +
      "re-added column must not prune against the old column's statistics") {
    // rename(name->full_name) frees the physical name "name"; re-adding
    // logical "name" mints physical "name_1". A filter on logical "name"
    // handed to the reader UNTRANSLATED would convert against the files'
    // physical "name" column — full_name's data — and row-group pruning
    // would silently drop matching rows. The law drives the full catalog
    // read (columnar reader, parquet FilterPredicate active) and checks
    // exact rows.
    val store = java.nio.file.Files.createTempDirectory("graft_cat_collide").toString
    val seed = (1L to 40L).map(k => (k, s"alpha$k", k * 1.0)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      log((1L, "alpha1b", 10.0, 100L, "U")),
      seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 0L)
    Cdc.renameColumn(spark, store, "name", "full_name")
    // re-add logical "name" with values DISJOINT from full_name's range
    // ("zz..." sorts far above "alpha...") so wrong-column row-group
    // pruning would provably drop every match
    Cdc.processPartitionedBatch(
      (1L to 40L).map(k => (k, s"alpha$k", k * 1.0, s"zz$k", 200L + k, "U"))
        .toDF("k", "full_name", "bal", "name", "seq", "op"),
      seed.toDF("k", "full_name", "bal").withColumn("name", lit(null).cast("string")),
      keys, Seq(col("seq")), col("op"), store, nBuckets, 2L,
      payloadCols = Seq("k", "full_name", "bal", "name"))
    val meta = Cdc.storedMeta(spark, store, 2L)
    assert(meta.phys("name") === "name_1" && meta.phys("full_name") === "name",
      s"fixture must produce the collision mapping, got ${meta.mapping}")
    CdcCatalog.register("cat_collide", store, keys, nBuckets)
    try {
      val hit = spark.table("graft.cat_collide").filter(col("name") === "zz7")
      assert(hit.select("k").as[Long].collect().toSeq === Seq(7L),
        "pushed filter on the re-added column lost rows (wrong-column pruning)")
      // and the renamed column still filters correctly too
      val hit2 = spark.table("graft.cat_collide").filter(col("full_name") === "alpha9")
      assert(hit2.select("k").as[Long].collect().toSeq === Seq(9L))
    } finally CdcCatalog.unregister("cat_collide")
  }

  test("truncating writer: footer string max names a value in NO row — the default-off " +
      "string gate is what keeps pushed answers honest") {
    // parquet.statistics.truncate.length makes parquet-mr store a PREFIX
    // rounded up as the max ("nzz…" → "o") with no inexactness mark in
    // the converted metadata; a footer-folded max would return a string
    // that exists in no row. Build a store under a truncating writer and
    // show (a) the default path answers exactly via the row scan, (b) the
    // raw footer statistic really is a phantom value — the hazard is
    // real, not hypothetical.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.statistics.truncate.length", 2)
    val store = java.nio.file.Files.createTempDirectory("graft_cat_trunc").toString
    try {
      // every name is 8+ chars so ANY footer min/max in ANY file is
      // provably a truncated phantom, never a real value
      val seed = (1L to 40L).map(k => (k, f"customer_$k%04d", k * 1.0)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        log((1L, "customer_x1", 10.0, 100L, "U")),
        seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 0L)
    } finally hc.unset("parquet.statistics.truncate.length")
    CdcCatalog.register("cat_trunc", store, keys, nBuckets)
    try {
      val realMax = Cdc.readPartitionedSnapshot(spark, store)
        .agg(max(col("name"))).head().getString(0)
      // (b) the truncated footer statistic is NOT a real value
      val aFile = {
        val fs = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def firstParquet(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
          val sts = fs.listStatus(p).sortBy(_.getPath.getName)
          sts.collectFirst { case st if st.isFile && st.getPath.getName.endsWith(".parquet") => st.getPath }
            .orElse(sts.filter(_.isDirectory).flatMap(d => firstParquet(d.getPath)).headOption)
        }
        firstParquet(new org.apache.hadoop.fs.Path(s"$store/parts")).get
      }
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(aFile, hc))
      val footerMax = try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.head.getColumns.asScala
          .find(_.getPath.toDotString == "name").get
          .getStatistics.genericGetMax()
          .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      } finally reader.close()
      assert(footerMax.length <= 2, s"expected a truncated statistic, got '$footerMax'")
      // (a) default-off: exact answer through the row scan
      val df = spark.table("graft.cat_trunc").agg(max(col("name")).as("mx"))
      assert(df.head().getString(0) === realMax)
    } finally CdcCatalog.unregister("cat_trunc")
  }

  test("LIMIT pushdown plans only enough buckets to cover n rows; filters disqualify it") {
    val store = buildStore("lim", seed40("l"))
    CdcCatalog.register("cat_lim", store, keys, nBuckets)
    try {
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      def plannedBuckets(df: DataFrame): Int =
        scansIn(df.queryExecution.executedPlan).head match {
          case s: CdcScan => s.planInputPartitions().length
          case s => fail(s"unexpected scan ${s.description()}")
        }
      val total = Cdc.readPartitionedSnapshot(spark, store).count()
      // a small LIMIT schedules a strict subset of the 8 buckets
      val lim = spark.table("graft.cat_lim").limit(3)
      assert(lim.collect().length === 3)
      assert(plannedBuckets(lim) < nBuckets,
        s"LIMIT 3 planned all $nBuckets buckets")
      // a LIMIT past the row count keeps every bucket and every row
      val big = spark.table("graft.cat_lim").limit(10000)
      assert(big.count() === total)
      // a filter disqualifies the prune (residuals could thin buckets):
      // full bucket set planned, rows exact
      val filtered = spark.table("graft.cat_lim").filter(col("bal") > 5.0).limit(3)
      assert(filtered.collect().length === 3)
      assert(plannedBuckets(filtered) === nBuckets)
    } finally CdcCatalog.unregister("cat_lim")
  }

  test("_bucket metadata column: every row reports the layout bucket it serves from; " +
      "hidden from SELECT *; free (per-partition constant, no file read)") {
    val store = buildStore("metacol", seed40("mc"))
    CdcCatalog.register("cat_metacol", store, keys, nBuckets)
    try {
      // hidden from star expansion, selectable by name
      assert(spark.table("graft.cat_metacol").columns.toSeq ===
        Seq("k", "name", "bal"))
      val rows = spark.sql("SELECT k, _bucket FROM graft.cat_metacol")
        .as[(Long, Int)].collect()
      assert(rows.nonEmpty)
      // the metadata value IS the store's layout hash, row by row
      val expect = spark.table("graft.cat_metacol")
        .select(col("k"), Cdc.bucketExpr(keys, nBuckets).as("b"))
        .as[(Long, Int)].collect().toMap
      rows.foreach { case (k, b) =>
        assert(b === expect(k), s"k=$k served from bucket $b, layout says ${expect(k)}")
      }
      // composes with pruning: a key-pinned read still serves the column
      val pt = spark.sql("SELECT k, _bucket FROM graft.cat_metacol WHERE k = 2")
        .as[(Long, Int)].collect()
      assert(pt.toSeq === Seq((2L, expect(2L))))
    } finally CdcCatalog.unregister("cat_metacol")
  }

  test("pruning is observable: scan custom metrics report planned/pruned buckets " +
      "and files opened, straight off the executed plan") {
    val store = buildStore("met", seed40("m"))
    CdcCatalog.register("cat_met", store, keys, nBuckets)
    try {
      def scanMetrics(df: DataFrame): Map[String, Long] = {
        df.collect()
        def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
          p.collect {
            case b: BatchScanExec => Seq(b)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              find(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(q.plan)
          }.flatten
        find(df.queryExecution.executedPlan).head.metrics
          .map { case (k, v) => k -> v.value }
      }
      val full = scanMetrics(spark.table("graft.cat_met"))
      assert(full("plannedBuckets") === nBuckets)
      assert(full("staticPrunedBuckets") === 0L)
      assert(full("runtimePrunedBuckets") === 0L)
      assert(full("filesOpened") >= 1L)
      assert(full("filesOpened") === full("plannedFiles"),
        s"unfiltered scan must open exactly the planned files: $full")
      val point = scanMetrics(spark.table("graft.cat_met").filter(col("k") === 2L))
      assert(point("plannedBuckets") === 1L, s"point lookup metrics: $point")
      assert(point("staticPrunedBuckets") === (nBuckets - 1).toLong)
      // a PENDING merge-on-read delta: the fold reader opens base AND
      // delta files, and the plan counts both
      Cdc.processPartitionedBatch(
        log((3L, "d3", 33.0, 300L, "U"), (4L, "x", 0.0, 301L, "D")),
        seed40("m").toDF("k", "name", "bal"), keys, Seq(col("seq")), col("op"),
        store, nBuckets, 2L, casCommit = true, morCommit = true)
      val mor = scanMetrics(spark.table("graft.cat_met"))
      assert(mor("plannedFiles") > full("plannedFiles"), s"delta files not planned: $mor")
      assert(mor("filesOpened") >= 1L)
      assert(mor("filesOpened") === mor("plannedFiles"),
        s"merge-on-read scan must open exactly the planned files: $mor")
    } finally CdcCatalog.unregister("cat_met")
  }

  test("store, fold and footer-stats readers, the $files footer reads and the staging " +
      "writers open files with the session's Hadoop conf") {
    // A scheme only the session's Hadoop conf knows; with the FileSystem
    // cache off, every open resolves the scheme from the conf it is given,
    // so a reader that builds a default Configuration cannot open a file.
    val store = buildStore("sess", seed40("q"))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftsession.impl", classOf[graft.sources.SessionSchemeFs].getName)
    hc.setBoolean("fs.graftsession.impl.disable.cache", true)
    CdcCatalog.register("cat_sess", s"graftsession://$store", keys, nBuckets)
    try {
      val t = spark.table("graft.cat_sess")
      assert(collectRows(t) === collectRows(Cdc.readPartitionedSnapshot(spark, store)))
      val stats = t.agg(min(col("bal")), max(col("bal")))
      val statsScans = stats.queryExecution.executedPlan.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case b: BatchScanExec => b.scan }
      }.flatten
      assert(statsScans.exists(_.isInstanceOf[CdcStatsScan]), statsScans.map(_.description()))
      assert(stats.collect().toSeq ===
        Cdc.readPartitionedSnapshot(spark, store).agg(min(col("bal")), max(col("bal")))
          .collect().toSeq)
      // a pending delta takes the scan to the fold reader
      Cdc.processPartitionedBatch(log((5L, "d5", 55.0, 300L, "U")),
        seed40("q").toDF("k", "name", "bal"), keys, Seq(col("seq")), col("op"),
        store, nBuckets, 2L, casCommit = true, morCommit = true)
      val folded = collectRows(spark.table("graft.cat_sess"))
      assert(folded === collectRows(Cdc.readPartitionedSnapshot(spark, store)))
      assert(folded.contains((5L, "d5", 55.0)))
      // x$files lists and footer-reads every live file executor-side
      val files = spark.table("graft.`cat_sess$files`").select("path", "file_rows")
        .as[(String, Long)].collect()
      assert(files.nonEmpty && files.forall(_._1.startsWith("graftsession:")), files.toSeq)
      assert(files.map(_._2).sum >= folded.size)
      // a predicate wider than a key panel stages its verdicts through
      // the row-level delta writer
      spark.sql("DELETE FROM graft.cat_sess WHERE k = 3 AND bal > 1.0")
      assert(!collectRows(spark.table("graft.cat_sess")).exists(_._1 == 3L))
      // a streaming write stages each epoch through the staging writer
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_sess_ckpt").toString
      val q = mem.toDF().toDF("k", "name", "bal").writeStream
        .option("checkpointLocation", ckpt).toTable("graft.cat_sess")
      try { mem.addData((6L, "s6", 66.0)); q.processAllAvailable() } finally q.stop()
      assert(collectRows(spark.table("graft.cat_sess")).contains((6L, "s6", 66.0)))
    } finally {
      CdcCatalog.unregister("cat_sess")
      hc.unset("fs.graftsession.impl")
      hc.unset("fs.graftsession.impl.disable.cache")
    }
  }

  test("a merge-on-read changelog of a coercible but different type reads back through the catalog") {
    // the store records `bal` as DOUBLE; the changelog carries DECIMAL
    val store = buildStore("coerce", seed40("c"))
    CdcCatalog.register("cat_coerce", store, keys, nBuckets)
    try {
      val changes = log((7L, "c7", 0.0, 300L, "U"), (8L, "c8", 0.0, 301L, "I"))
        .withColumn("bal", (col("k") * lit(BigDecimal("1.5"))).cast("decimal(12,2)"))
      Cdc.processPartitionedBatch(changes, seed40("c").toDF("k", "name", "bal"), keys,
        Seq(col("seq")), col("op"), store, nBuckets, 2L, casCommit = true, morCommit = true)
      val served = collectRows(spark.table("graft.cat_coerce"))
      assert(served.contains((7L, "c7", 10.5)) && served.contains((8L, "c8", 12.0)), served)
      assert(served === collectRows(Cdc.readPartitionedSnapshot(spark, store)))
    } finally CdcCatalog.unregister("cat_coerce")
  }

  test("a bucket dir that vanishes under a resolved table fails the scan instead of serving fewer rows") {
    val store = buildStore("vanish", seed40("v"))
    CdcCatalog.register("cat_vanish", store, keys, nBuckets)
    try {
      // resolving the table reads the manifest; the scan lists at planning
      val df = spark.table("graft.cat_vanish")
      val table = df.queryExecution.analyzed.collectFirst {
        case r: DataSourceV2Relation => r.table.asInstanceOf[CdcStoreTable]
      }.get
      val (_, dir) = table.bucketDirs.head
      assert(CdcFeedScan.dirFiles(dir).nonEmpty)
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      val e = intercept[Exception](df.collect())
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]), e)
    } finally CdcCatalog.unregister("cat_vanish")
  }

  test("unknown table and non-additive surface fail loudly") {
    intercept[Exception] { spark.table("graft.no_such_store").collect() }
    val store = buildStore("guard", seed40("g"))
    CdcCatalog.register("cat_guard_badkey", store, Seq("nope"), nBuckets)
    val e = intercept[Exception] { spark.table("graft.cat_guard_badkey").collect() }
    assert(e.getMessage.contains("merge keys absent") ||
      Option(e.getCause).exists(_.getMessage.contains("merge keys absent")))
    CdcCatalog.unregister("cat_guard_badkey")
    // name collisions refuse BOTH ways: loadTable resolves stores first,
    // so a store registered under a feed's name would shadow the feed
    CdcCatalog.registerFeed("cat_guard_feed", store, s"$store/feed")
    intercept[IllegalArgumentException] {
      CdcCatalog.register("cat_guard_feed", store, keys, nBuckets)
    }
    CdcCatalog.unregister("cat_guard_feed")
    CdcCatalog.register("cat_guard_store", store, keys, nBuckets)
    intercept[IllegalArgumentException] {
      CdcCatalog.registerFeed("cat_guard_store", store, s"$store/feed")
    }
    CdcCatalog.unregister("cat_guard_store")
  }

  test("SQL DDL: ALTER TABLE RENAME/DROP COLUMN are metadata-only commits through the " +
      "catalog; merge-key drops refuse; a merge-key rename follows into the " +
      "registration so scans and DML keep working") {
    val store = buildStore("ddl", seed40("d"))
    CdcCatalog.register("cat_ddl", store, keys, nBuckets)
    def fileState(dir: String): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p.toString, java.nio.file.Files.size(p))).toSet
      finally st.close()
    }
    try {
      val before = fileState(s"$store/parts")
      val pre = collectRows(spark.table("graft.cat_ddl"))
      spark.sql("ALTER TABLE graft.cat_ddl RENAME COLUMN name TO full_name")
      assert(fileState(s"$store/parts") === before, "SQL rename rewrote data files")
      val served = spark.table("graft.cat_ddl")
      assert(served.columns.toSeq === Seq("k", "full_name", "bal"))
      assert(served.select("k", "full_name", "bal").as[(Long, String, Double)]
        .collect().toSet === pre)
      // dropping a merge key refuses LOUDLY, before any commit
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      val e = intercept[Exception](spark.sql("ALTER TABLE graft.cat_ddl DROP COLUMN k"))
      assert(messages(e).exists(_.contains("merge key")), messages(e).mkString(" | "))
      // ...and so does the bare maintenance API while the table is registered
      val e2 = intercept[Exception](Cdc.dropColumn(spark, store, "k"))
      assert(messages(e2).exists(_.contains("merge key")), messages(e2).mkString(" | "))
      // dropping a payload column works and serves the narrowed schema
      spark.sql("ALTER TABLE graft.cat_ddl DROP COLUMN bal")
      assert(spark.table("graft.cat_ddl").columns.toSeq === Seq("k", "full_name"))
      // renaming the MERGE KEY follows into the registration: the scan
      // (bucket pruning on the new name) and DML keep working
      spark.sql("ALTER TABLE graft.cat_ddl RENAME COLUMN k TO id")
      assert(spark.table("graft.cat_ddl").columns.toSeq === Seq("id", "full_name"))
      val hit = spark.table("graft.cat_ddl").filter(col("id") === 2L)
      assert(hit.select("full_name").as[String].collect().toSeq === Seq("b1"))
      spark.sql("UPDATE graft.cat_ddl SET full_name = 'renamedkey' WHERE id = 2")
      assert(spark.table("graft.cat_ddl").filter(col("id") === 2L)
        .select("full_name").as[String].head() === "renamedkey")
      // ADD COLUMN: metadata-only additive evolution — zero data files
      // rewritten, every existing row serves NULL, and new writes carry it
      val preAdd = fileState(s"$store/parts")
      spark.sql("ALTER TABLE graft.cat_ddl ADD COLUMN note STRING")
      assert(fileState(s"$store/parts") === preAdd, "SQL ADD COLUMN rewrote data files")
      assert(spark.table("graft.cat_ddl").columns.toSeq === Seq("id", "full_name", "note"))
      assert(spark.table("graft.cat_ddl").filter(col("note").isNotNull).count() === 0L,
        "carried rows must serve NULL for the added column")
      spark.sql("UPDATE graft.cat_ddl SET note = 'annotated' WHERE id = 2")
      assert(spark.table("graft.cat_ddl").filter(col("id") === 2L)
        .select("note").as[String].head() === "annotated")
      // old versions keep serving their own era's schema (time travel)
      assert(!spark.sql("SELECT * FROM graft.cat_ddl VERSION AS OF 1")
        .columns.contains("note"))
      // a RE-ADDED dropped name mints a fresh physical name: the dropped
      // column's data must never resurrect out of carried files
      spark.sql("ALTER TABLE graft.cat_ddl ADD COLUMN bal DOUBLE")
      assert(spark.table("graft.cat_ddl").filter(col("bal").isNotNull).count() === 0L,
        "dropped column data resurrected through a re-added name")
      // non-additive spellings refuse loudly
      val e3 = intercept[Exception](
        spark.sql("ALTER TABLE graft.cat_ddl ADD COLUMN req STRING NOT NULL"))
      assert(messages(e3).exists(_.toLowerCase.contains("nullable")),
        messages(e3).mkString(" | "))
      val e4 = intercept[Exception](
        spark.sql("ALTER TABLE graft.cat_ddl ADD COLUMN d STRING DEFAULT 'x'"))
      assert(messages(e4).exists(m => m.contains("DEFAULT") || m.contains("default")),
        messages(e4).mkString(" | "))
    } finally CdcCatalog.unregister("cat_ddl")
  }

  test("SQL DDL: ALTER COLUMN TYPE widens INT->BIGINT / FLOAT->DOUBLE metadata-only — " +
      "mixed-era files serve and aggregate through the widened schema; non-widening " +
      "and merge-key changes refuse") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val store = java.nio.file.Files.createTempDirectory("graft_cat_widen").toString
    val seed = (1 to 40).map(k => (k.toLong, k * 10, k / 10.0f)).toDF("k", "cnt", "ratio")
    Cdc.processPartitionedBatch(
      Seq.empty[(Long, Int, Float, Long, String)].toDF("k", "cnt", "ratio", "seq", "op"),
      seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("cat_widen", store, keys, nBuckets)
    def fileState(dir: String): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p.toString, java.nio.file.Files.size(p))).toSet
      finally st.close()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    try {
      val before = fileState(s"$store/parts")
      spark.sql("ALTER TABLE graft.cat_widen ALTER COLUMN cnt TYPE BIGINT")
      spark.sql("ALTER TABLE graft.cat_widen ALTER COLUMN ratio TYPE DOUBLE")
      assert(fileState(s"$store/parts") === before, "SQL widening rewrote data files")
      val served = spark.table("graft.cat_widen")
      assert(served.schema("cnt").dataType === LongType)
      assert(served.schema("ratio").dataType === DoubleType)
      // a value only the WIDE type can carry, through SQL INSERT (keyed
      // upsert) — the store now holds narrow- and wide-era files side by
      // side, and one scan serves both
      spark.sql("INSERT INTO graft.cat_widen VALUES (41, 5000000000, 4.25)")
      val rows = spark.table("graft.cat_widen")
        .select("k", "cnt", "ratio").as[(Long, Long, Double)].collect()
        .map { case (k, c, r) => (k, (c, r)) }.toMap
      assert(rows(41L) === ((5000000000L, 4.25d)))
      assert(rows(7L) === ((70L, (7 / 10.0f).toDouble)),
        "narrow-era file did not up-cast through the widened schema")
      // footer-statistics aggregates fold across BOTH eras (int footers
      // up-cast into the long fold; float footers into the double fold)
      val agg = spark.table("graft.cat_widen")
        .agg(min(col("cnt")).as("lo"), max(col("cnt")).as("hi"),
          max(col("ratio")).as("rhi"))
        .as[(Long, Long, Double)].head()
      assert(agg === ((10L, 5000000000L, 4.25d)), s"mixed-era aggregate wrong: $agg")
      // refusals: narrowing and re-typing die in Spark's own analyzer
      // (NOT_SUPPORTED_CHANGE_COLUMN — only upcasts reach the catalog);
      // the catalog's own "widening" refusal guards the direct API path
      // (CdcSpec) and any analyzer-permitted non-widening change
      def refuses(sql: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        assert(messages(e).exists(m =>
          m.contains("widening") || m.contains("NOT_SUPPORTED_CHANGE_COLUMN")),
          messages(e).mkString(" | "))
      }
      refuses("ALTER TABLE graft.cat_widen ALTER COLUMN cnt TYPE INT")
      refuses("ALTER TABLE graft.cat_widen ALTER COLUMN ratio TYPE STRING")
      // k is LONG already — but a widening-shaped change on a key must
      // still refuse on key identity, so build the shape with an int key
      val store2 = java.nio.file.Files.createTempDirectory("graft_cat_widen_k").toString
      Cdc.processPartitionedBatch(
        Seq.empty[(Int, Long, Long, String)].toDF("k", "v", "seq", "op"),
        Seq((1, 1L)).toDF("k", "v"),
        keys, Seq(col("seq")), col("op"), store2, nBuckets, 0L)
      CdcCatalog.register("cat_widen_k", store2, keys, nBuckets)
      val e3 = intercept[Exception](
        spark.sql("ALTER TABLE graft.cat_widen_k ALTER COLUMN k TYPE BIGINT"))
      assert(messages(e3).exists(_.contains("merge key")), messages(e3).mkString(" | "))
    } finally {
      CdcCatalog.unregister("cat_widen")
      CdcCatalog.unregister("cat_widen_k")
    }
  }

  test("ALTER keeps a registered change feed CONTIGUOUS: rename/drop/add materialize " +
      "an (empty) feed version, so a tail consumer inside the window never hits a " +
      "hole misreported as retention") {
    val store = buildStore("ddlfeed", seed40("f"))
    val feed = s"$store/feed"
    // materialize the existing history's feed entries (v0 has no parent)
    Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
      .write.mode("overwrite").parquet(s"$feed/v=1")
    CdcCatalog.register("cat_ddlfeed", store, keys, nBuckets)
    CdcCatalog.registerFeed("cat_ddlfeed_cdf", store, feed)
    try {
      spark.sql("ALTER TABLE graft.cat_ddlfeed ADD COLUMN note STRING") // v=2
      assert(Cdc.feedVersions(spark, feed).contains(2L),
        "ADD COLUMN left a hole in the feed's version line")
      assert(spark.read.parquet(s"$feed/v=2").count() === 0L,
        "a metadata-only commit's CDF entry must be empty")
      // the line stays consecutive through a following DML commit, so a
      // batch consumer at v=1 reads v=2 (empty) + v=3 without a gap error
      spark.sql("INSERT INTO graft.cat_ddlfeed VALUES (77, 'new', 7.0, 'n')") // v=3
      val resumed = Cdc.readFeedSince(spark, feed, 1L)
      assert(resumed.filter(col("_commit_version") === 3L).count() > 0)
      // rename/drop also materialize their versions (the boundary guard
      // then governs whether the feed TABLE serves across them)
      spark.sql("ALTER TABLE graft.cat_ddlfeed RENAME COLUMN note TO memo") // v=4
      spark.sql("ALTER TABLE graft.cat_ddlfeed DROP COLUMN memo")           // v=5
      assert(Seq(4L, 5L).forall(Cdc.feedVersions(spark, feed).contains),
        "rename/drop left holes in the feed's version line")
    } finally { CdcCatalog.unregister("cat_ddlfeed"); CdcCatalog.unregister("cat_ddlfeed_cdf") }
  }

  test("x$partitions: per-bucket health readout — rows, pending delta depth and lazy-" +
      "split markers match the manifest; the dirty predicate IS compactStore's set") {
    val store = buildStore("parts", seed40("w"))
    CdcCatalog.register("cat_parts", store, keys, nBuckets)
    try {
      Cdc.splitBuckets(spark, store) // 8 -> 16, every child lazily split
      // one merge-on-read delta on key 2's child
      val delta = Seq((2L, "mor2", 2.5, 900L, "U")).toDF("k", "name", "bal", "seq", "op")
      Cdc.processPartitionedBatch(delta, seed40("w").toDF("k", "name", "bal"), keys,
        Seq(col("seq")), col("op"), store, 16, 3L, casCommit = true, morCommit = true)
      CdcCatalog.unregister("cat_parts")
      CdcCatalog.register("cat_parts", store, keys, 16)
      val parts = spark.sql("SELECT * FROM graft.`cat_parts$partitions`")
      assert(parts.schema === CdcCatalog.PartitionsSchema)
      val rows = parts.as[(Int, Option[Long], Option[Long], Int, Option[Int])].collect()
        .map(r => r._1 -> r).toMap
      val child2 = Seq(2L).toDF("k").select(Cdc.bucketExpr(keys, 16)).as[Int].head()
      assert(rows(child2)._4 === 1, "delta depth wrong for the delta'd child")
      assert(rows(child2)._2.isEmpty, "a delta'd bucket must not claim a row count")
      assert(rows.values.forall(r => r._1 == child2 || r._5.contains(nBuckets)),
        "untouched children must carry the lazy-split marker")
      // the SQL dirty predicate equals compactStore's dirty set
      val dirty = parts.filter(col("delta_depth") > 0 || col("base_mod").isNotNull)
        .select("_bucket").as[Int].collect().toSet
      assert(dirty === rows.keySet, "every bucket here is split or delta'd")
      assert(CdcCatalog.compact("cat_parts").isDefined)
      val after = spark.sql("SELECT * FROM graft.`cat_parts$partitions`")
        .as[(Int, Option[Long], Option[Long], Int, Option[Int])].collect()
      assert(after.forall(r => r._4 === 0 && r._5.isEmpty && r._2.isDefined),
        "compaction must clear depth/split markers and restore counts")
    } finally CdcCatalog.unregister("cat_parts")
  }

  test("catalog bucket split: registered tables serve identically across the split " +
      "(scans slice lazily, DML keeps working, pushdown pauses honestly and returns " +
      "after compaction); time travel keeps the old layout; the feed stays contiguous") {
    val store = buildStore("split", seed40("z"))
    val feed = s"$store/feed"
    Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
      .write.mode("overwrite").parquet(s"$feed/v=1")
    CdcCatalog.register("cat_split", store, keys, nBuckets)
    CdcCatalog.register("cat_split_twin", store, keys, nBuckets)
    CdcCatalog.registerFeed("cat_split_cdf", store, feed)
    try {
      val pre = collectRows(spark.table("graft.cat_split"))
      val vSplit = CdcCatalog.split("cat_split")                       // 8 -> 16
      // both live registrations follow the layout; served rows unchanged
      assert(collectRows(spark.table("graft.cat_split")) === pre)
      assert(collectRows(spark.table("graft.cat_split_twin")) === pre)
      // point filter through the sliced scan stays exact
      assert(spark.table("graft.cat_split").filter(col("k") === 2L)
        .select("name").as[String].head() === "b1")
      // aggregates stay CORRECT while pushdown pauses (plain scan path)
      assert(spark.table("graft.cat_split").count() === pre.size.toLong)
      // a METADATA commit on the split store (ADD COLUMN) must not mint
      // phantom per-child row counts (a sliced child has no standalone
      // count) — and LIMIT over the sliced store must still return rows
      // (regression: a false rows=0 would make LIMIT plan zero buckets)
      spark.sql("ALTER TABLE graft.cat_split ADD COLUMN note STRING")
      val rowCounts = Cdc.servingState(spark, store)._3.values.flatMap(_.rows)
      assert(rowCounts.isEmpty || rowCounts.forall(_ > 0L),
        "metadata commit recorded phantom counts for sliced children")
      assert(spark.table("graft.cat_split").limit(10).count() === 10L,
        "LIMIT over a lazily-split store dropped rows")
      // DML over the split store writes native children
      spark.sql("UPDATE graft.cat_split SET name = 'postsplit' WHERE k = 2")
      assert(spark.table("graft.cat_split").filter(col("k") === 2L)
        .select("name").as[String].head() === "postsplit")
      // time travel BEFORE the split serves with the old layout
      assert(spark.sql(s"SELECT * FROM graft.cat_split VERSION AS OF 1")
        .count() === pre.size.toLong)
      // the registered feed stayed contiguous through split + DML
      val fv = Cdc.feedVersions(spark, feed).sorted
      assert(fv === (1L to fv.max).toSeq, s"feed has holes: $fv")
      assert(spark.read.parquet(s"$feed/v=$vSplit").count() === 0L,
        "a split's CDF entry must be empty")
      // compaction materializes the children; count pushdown returns
      // (zero-file-IO CdcCountScan shape)
      assert(CdcCatalog.compact("cat_split").isDefined)
      assert(collectRows(spark.table("graft.cat_split")).map(_._1) === pre.map(_._1))
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
      val cnt = spark.table("graft.cat_split").groupBy().count()
      cnt.collect()
      val scans = scansIn(cnt.queryExecution.executedPlan).map(_.description())
      assert(scans.exists(_.contains("no file IO")),
        s"count pushdown did not return after compaction: $scans")
    } finally Seq("cat_split", "cat_split_twin", "cat_split_cdf")
      .foreach(CdcCatalog.unregister)
  }

  test("a merge-key rename follows into EVERY live registration sharing the store " +
      "path; version-pinned twins keep their era's keys and stay serveable") {
    val store = buildStore("ddlsib", seed40("t"))
    CdcCatalog.register("cat_sib_a", store, keys, nBuckets)
    CdcCatalog.register("cat_sib_b", store, keys, nBuckets)
    CdcCatalog.register("cat_sib_pin", store, keys, nBuckets, version = Some(1L))
    try {
      spark.sql("ALTER TABLE graft.cat_sib_a RENAME COLUMN k TO id")
      // the sibling live registration serves under the new key name (its
      // old registration would fail the keys-vs-recorded-meta validation)
      assert(spark.table("graft.cat_sib_b").columns.head === "id")
      assert(spark.table("graft.cat_sib_b").filter(col("id") === 2L).count() === 1L)
      // the pinned twin serves its own era: old name, old rows
      assert(spark.table("graft.cat_sib_pin").columns.head === "k")
      assert(spark.table("graft.cat_sib_pin").filter(col("k") === 2L).count() === 1L)
      // the per-path drop guard speaks the NEW name
      val e = intercept[Exception](Cdc.dropColumn(spark, store, "id"))
      assert(e.getMessage.contains("merge key"), e.getMessage)
    } finally Seq("cat_sib_a", "cat_sib_b", "cat_sib_pin").foreach(CdcCatalog.unregister)
  }

  test("x$history scales: resolving/EXPLAINing the metadata table runs ZERO Spark jobs, " +
      "and collecting an N-version history costs O(1) jobs (one partitioned manifest " +
      "read), not one job per version") {
    val store = buildStore("histscale", seed40("h"))
    val seed = seed40("h").toDF("k", "name", "bal")
    // grow the history to 6 committed versions
    (2L to 5L).foreach { v =>
      Cdc.processPartitionedBatch(
        log((v, s"v$v", v * 1.0, 100L * v, "U")),
        seed, keys, Seq(col("seq")), col("op"), store, nBuckets, v)
    }
    CdcCatalog.register("cat_histscale", store, keys, nBuckets)
    try {
      val sc = spark.sparkContext
      def jobsIn(group: String)(body: => Unit): Int = {
        sc.setJobGroup(group, group, interruptOnCancel = false)
        try body finally sc.clearJobGroup()
        // the status tracker is listener-fed (async): drain the bus first
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        sc.statusTracker.getJobIdsForGroup(group).length
      }
      // RESOLUTION (loadTable + schema + analysis) is job-free: the
      // metadata computation is deferred past the logical plan. (Physical
      // planning legitimately materializes it — BatchScanExec asks the
      // factory about every partition — so the explain boundary is the
      // analyzed plan, not the executed one.)
      val resolveJobs = jobsIn("hist_resolve") {
        val t = spark.table("graft.`cat_histscale$history`")
        assert(t.schema.fieldNames.toSeq ===
          Seq("version", "commit_ts_millis", "buckets", "touched_buckets", "rows",
          "delta_buckets"))
        t.queryExecution.analyzed // force analysis, not execution
        ()
      }
      assert(resolveJobs === 0,
        s"resolving x\\$$history ran $resolveJobs Spark jobs — resolution must be lazy")
      var collected: Array[org.apache.spark.sql.Row] = Array.empty
      val collectJobs = jobsIn("hist_collect") {
        collected = spark.table("graft.`cat_histscale$history`").orderBy("version").collect()
      }
      assert(collected.map(_.getLong(0)).toSeq === (0L to 5L),
        "history must cover every committed version")
      assert(collectJobs > 0 && collectJobs < 6,
        s"x\\$$history over 6 versions cost $collectJobs jobs — the read must not be " +
          "one job per version")
    } finally CdcCatalog.unregister("cat_histscale")
  }
}
