package graft.sources.cdc

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for SQL row-level DML on catalog CDC stores
  * ([[CdcRowLevelOperation]] — the delta-based `SupportsDelta` path):
  *  - `UPDATE ... WHERE <any predicate>` rewrites matched rows only,
  *    commits ONE store version, and rides the change feed as updates;
  *  - an UPDATE that MOVES a key retires the old identity and lands the
  *    new one (delete + upsert, no same-key recency tie);
  *  - `MERGE INTO` with matched-update / not-matched-insert /
  *    matched-delete clauses lands the full verdict set as one version;
  *  - `DELETE ... WHERE <non-key predicate>` works through the target
  *    scan (the metadata-only path keeps claiming bounded key panels —
  *    CdcCatalogSpec owns that split);
  *  - version-pinned tables refuse all of it, loudly.
  */
class CdcRowLevelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val n = 8

  private def freshStore(tag: String): String = {
    val store = java.nio.file.Files.createTempDirectory(s"graft_rlo_$tag").toString
    val seed = (1L to 40L).map(k => (k, s"orig$k", k * 1.0)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    store
  }

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "name", "bal").as[(Long, String, Double)].collect().toSet

  /** The CDC scans in the executed plans of every query `action` runs,
    * read off the execution listener once the listener bus has drained. */
  private def cdcScansDuring(action: => Unit): List[CdcScan] = {
    @volatile var captured = List.empty[CdcScan]
    def scansIn(p: SparkPlan): Seq[CdcScan] = p.collect {
      case b: BatchScanExec => Seq(b.scan).collect { case s: CdcScan => s }
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
    }.flatten
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        captured = scansIn(qe.executedPlan).toList ++ captured
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      GraftBridge.drainListenerBus(spark)
      captured
    } finally spark.listenerManager.unregister(listener)
  }

  test("UPDATE with an arbitrary predicate rewrites matched rows as one MERGE version") {
    val store = freshStore("upd")
    CdcCatalog.register("rlo_upd", store, keys, n)
    try {
      spark.sql("UPDATE graft.rlo_upd SET bal = bal * 10, name = 'boosted' WHERE bal > 37.5")
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L),
        "UPDATE must commit exactly one version")
      val got = rows(spark.table("graft.rlo_upd"))
      val expected = (1L to 37L).map(k => (k, s"orig$k", k * 1.0)).toSet ++
        (38L to 40L).map(k => (k, "boosted", k * 10.0)).toSet
      assert(got === expected)
      // the statement rides the change feed as updates with both images
      val feed = Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(feed === (38L to 40L).flatMap(k =>
        Seq((k, "update_preimage"), (k, "update_postimage"))).toSet)
    } finally CdcCatalog.unregister("rlo_upd")
  }

  test("a key-pinned UPDATE statically prunes the target scan to the key's bucket") {
    val store = freshStore("updpt")
    CdcCatalog.register("rlo_updpt", store, keys, n)
    try {
      val captured = cdcScansDuring(spark.sql("UPDATE graft.rlo_updpt SET bal = 0.0 WHERE k = 7"))
      assert(rows(spark.table("graft.rlo_updpt")).contains((7L, "orig7", 0.0)))
      assert(captured.nonEmpty, "no target scan captured")
      // the static k=7 conjunct pushed into the row-level scan builder:
      // ONE bucket planned (the description carries buckets=planned/total)
      val d7 = captured.map(_.description()).find(_.contains("buckets=1/"))
      assert(d7.isDefined, s"expected a 1-bucket scan, got ${captured.map(_.description())}")
    } finally CdcCatalog.unregister("rlo_updpt")
  }

  test("an UPDATE that moves the key retires the old identity and lands the new") {
    val store = freshStore("mv")
    CdcCatalog.register("rlo_mv", store, keys, n)
    try {
      spark.sql("UPDATE graft.rlo_mv SET k = k + 100 WHERE k = 3")
      val got = rows(spark.table("graft.rlo_mv"))
      assert(!got.exists(_._1 == 3L), "the old key must be gone")
      assert(got.contains((103L, "orig3", 3.0)), "the moved row must land under the new key")
      assert(got.size === 40)
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    } finally CdcCatalog.unregister("rlo_mv")
  }

  test("MERGE INTO lands update + insert + delete verdicts as one version") {
    val store = freshStore("merge")
    CdcCatalog.register("rlo_merge", store, keys, n)
    try {
      Seq((1L, "src1", 111.0), (2L, "src2", 222.0), (50L, "src50", 500.0))
        .toDF("k", "name", "bal").createOrReplaceTempView("rlo_src")
      spark.sql("""
        MERGE INTO graft.rlo_merge t USING rlo_src s ON t.k = s.k
        WHEN MATCHED AND s.bal > 200 THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)""")
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L),
        "MERGE must commit exactly one version")
      val got = rows(spark.table("graft.rlo_merge"))
      val expected = (3L to 40L).map(k => (k, s"orig$k", k * 1.0)).toSet ++
        Set((1L, "src1", 111.0), (50L, "src50", 500.0)) // k=2 deleted (bal 222 > 200)
      assert(got === expected)
      // feed fidelity for the mixed verdict set
      val feed = Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(feed === Set((1L, "update_preimage"), (1L, "update_postimage"),
        (2L, "delete"), (50L, "insert")), s"unexpected feed: $feed")
    } finally CdcCatalog.unregister("rlo_merge")
  }

  test("MERGE NOT MATCHED BY SOURCE: the sync-to-source shape lands as one version, " +
      "result ≡ source snapshot, and the by-source rewrite is NOT runtime-pruned") {
    val store = freshStore("sync")
    CdcCatalog.register("rlo_sync", store, keys, n)
    // by-source clauses rewrite as LeftOuter/FullOuter joins, which
    // DeltaDmlRuntimeFiltering must SKIP: pruning target buckets by the
    // source's keys would hide exactly the rows NOT MATCHED BY SOURCE
    // exists to see. Capture the target scans to prove no panel landed.
    try {
      // source: updates 1-2, keeps 3-5 verbatim, adds 50; everything else
      // in the 40-row target is absent from the source
      val src = Seq((1L, "s1", 101.0), (2L, "s2", 102.0), (50L, "s50", 500.0)) ++
        (3L to 5L).map(k => (k, s"orig$k", k * 1.0))
      src.toDF("k", "name", "bal").createOrReplaceTempView("rlo_sync_src")
      val captured = cdcScansDuring(spark.sql("""
        MERGE INTO graft.rlo_sync t USING rlo_sync_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        WHEN NOT MATCHED BY SOURCE THEN DELETE"""))
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L),
        "sync-merge must commit exactly one version")
      assert(rows(spark.table("graft.rlo_sync")) === src.toSet,
        "sync-merge result must equal the source snapshot")
      // the target scans of the by-source rewrite carried NO runtime panel
      assert(captured.nonEmpty, "no target scan captured")
      assert(captured.forall(_.runtimePrunedBuckets.isEmpty),
        s"a by-source MERGE was runtime-pruned: ${captured.map(_.runtimePrunedBuckets)}")
      // conditional by-source UPDATE too (the other by-source verb)
      spark.sql("""
        MERGE INTO graft.rlo_sync t USING (SELECT 1L AS k) s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.bal > 400 THEN UPDATE SET t.name = 'flagged'""")
      val got = rows(spark.table("graft.rlo_sync"))
      assert(got.contains((50L, "flagged", 500.0)), s"conditional by-source UPDATE missed: $got")
      assert(got.contains((1L, "s1", 101.0)), "the matched row must stay untouched")
    } finally CdcCatalog.unregister("rlo_sync")
  }

  test("a MERGE that matches nothing is a no-op: no version minted") {
    val store = freshStore("noop")
    CdcCatalog.register("rlo_noop", store, keys, n)
    try {
      Seq((1L, "same", 1.0)).toDF("k", "name", "bal").createOrReplaceTempView("rlo_noop_src")
      spark.sql("""
        MERGE INTO graft.rlo_noop t USING rlo_noop_src s ON t.k = s.k
        WHEN MATCHED AND t.bal > 1000 THEN DELETE""")
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L),
        "an all-miss statement must not mint a version")
    } finally CdcCatalog.unregister("rlo_noop")
  }

  test("MERGE with a selective file-backed source prunes target buckets at runtime") {
    val store = freshStore("dpp")
    CdcCatalog.register("rlo_dpp", store, keys, n)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_rlo_dpp_dim").toString
    Seq((5L, "x", 555.0), (7L, "x", 777.0), (9L, "y", 999.0)).toDF("k", "tag", "nb")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rlo_dpp_src")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      // the command executes eagerly — capture its executed plan off the
      // execution listener and fish the target scan out of it
      val captured = cdcScansDuring(spark.sql("""MERGE INTO graft.rlo_dpp t
        USING (SELECT k, nb FROM rlo_dpp_src WHERE tag = 'x') s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET t.bal = s.nb"""))
      // correctness first: pruning must stay layout advice
      val got = rows(spark.table("graft.rlo_dpp"))
      val expected = (1L to 40L).map {
        case 5L => (5L, "orig5", 555.0)
        case 7L => (7L, "orig7", 777.0)
        case k  => (k, s"orig$k", k * 1.0)
      }.toSet
      assert(got === expected)
      // then the scale law: the source's surviving keys arrived as a
      // runtime panel and dropped every bucket they don't hash to
      val pruned = captured.flatMap(_.runtimePrunedBuckets).headOption
      assert(pruned.isDefined,
        s"the runtime panel never reached the MERGE target scan (captured ${captured.size} scans)")
      val want = Set(5L, 7L).map(k =>
        Cdc.bucketOfLiterals(Seq(k -> org.apache.spark.sql.types.LongType), n))
      assert(pruned.get === want, s"pruned to ${pruned.get}, expected buckets $want")
    } finally CdcCatalog.unregister("rlo_dpp")
  }

  test("version-pinned tables refuse row-level DML loudly") {
    val store = freshStore("pin")
    CdcCatalog.register("rlo_pin", store, keys, n, version = Some(0L))
    try {
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      val e = intercept[Exception](
        spark.sql("UPDATE graft.rlo_pin SET bal = 0 WHERE bal > 1.0"))
      assert(messages(e).exists(_.contains("version-pinned")), messages(e).mkString(" | "))
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L))
    } finally CdcCatalog.unregister("rlo_pin")
  }

  test("merge-on-read DML (morDml registration): UPDATE/DELETE/MERGE write per-bucket " +
      "DELTA files — zero base files rewritten — the catalog scan folds them, the " +
      "feed stays CDF-exact, and compaction restores the clean-serve shape") {
    val store = freshStore("mor")
    CdcCatalog.register("rlo_mor", store, keys, n, morDml = true)
    def fileState(dir: String): Set[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, java.nio.file.Files.size(p))).toSet
      finally st.close()
    }
    try {
      val base = fileState(s"$store/parts")
      // point UPDATE: O(delta) — base files byte-identical, one delta dir
      spark.sql("UPDATE graft.rlo_mor SET bal = 500.0, name = 'mor5' WHERE k = 5")
      val after1 = fileState(s"$store/parts")
      assert(base.subsetOf(after1), "merge-on-read UPDATE rewrote base files")
      val m1 = Cdc.readManifestFull(spark, store, 1L)
      assert(m1.values.count(_.deltas.nonEmpty) === 1, "exactly one bucket gains a delta")
      // the catalog scan FOLDS: updated row serves, everything else intact
      assert(rows(spark.table("graft.rlo_mor")) ===
        (1L to 40L).map(k => if (k == 5) (5L, "mor5", 500.0) else (k, s"orig$k", k * 1.0)).toSet)
      // key-pinned DELETE (metadata path) also lands as a delta
      spark.sql("DELETE FROM graft.rlo_mor WHERE k = 7")
      assert(fileState(s"$store/parts").intersect(base) === base,
        "merge-on-read DELETE rewrote base files")
      assert(!rows(spark.table("graft.rlo_mor")).exists(_._1 == 7L))
      // MERGE: update + insert verdicts as one delta version
      Seq((5L, "merged5", 5000.0), (99L, "new99", 99.0)).toDF("k", "name", "bal")
        .createOrReplaceTempView("rlo_mor_src")
      spark.sql("""
        MERGE INTO graft.rlo_mor t USING rlo_mor_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)""")
      val expect = (1L to 40L).collect {
        case 5L => (5L, "merged5", 5000.0)
        case k if k != 7L => (k, s"orig$k", k * 1.0)
      }.toSet + ((99L, "new99", 99.0))
      assert(rows(spark.table("graft.rlo_mor")) === expect)
      // aggregates stay CORRECT while deltas pend (pushdown refuses, the
      // fold answers) — count sees the delete and the insert
      assert(spark.table("graft.rlo_mor").count() === 40L)
      // SQL time travel folds HISTORICALLY: v0 pre-DML (no fold), v1
      // exactly one delta level applied
      assert(rows(spark.sql("SELECT * FROM graft.rlo_mor VERSION AS OF 0")) ===
        (1L to 40L).map(k => (k, s"orig$k", k * 1.0)).toSet)
      assert(rows(spark.sql("SELECT * FROM graft.rlo_mor VERSION AS OF 1")) ===
        (1L to 40L).map(k =>
          if (k == 5) (5L, "mor5", 500.0) else (k, s"orig$k", k * 1.0)).toSet)
      // the feed is CDF-exact across the MoR commits (manifest-diff +
      // fold, no raw delta rows leak)
      val feed = Cdc.changesBetweenCdf(spark, store, 0L, 3L, keys)
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(feed === Set((5L, "update_preimage"), (5L, "update_postimage"),
        (7L, "delete"), (99L, "insert")))
      // compaction folds back to a clean base; the served table is unchanged
      val served = rows(spark.table("graft.rlo_mor"))
      assert(CdcCatalog.compact("rlo_mor").isDefined)
      assert(Cdc.readManifestFull(spark, store,
        Cdc.manifestVersions(spark, store).max).values.forall(_.deltas.isEmpty))
      assert(rows(spark.table("graft.rlo_mor")) === served)
    } finally CdcCatalog.unregister("rlo_mor")
  }

  test("catalog compaction keeps a registered change feed's version line contiguous: " +
      "the compaction version materializes as an (empty) CDF entry, so lagging " +
      "consumers resume across it instead of hitting a phantom retention gap") {
    val store = freshStore("morfeed")
    val feed = java.nio.file.Files.createTempDirectory("graft_rlo_morfeed").toString
    CdcCatalog.register("rlo_morfeed", store, keys, n, morDml = true)
    CdcCatalog.registerFeed("rlo_morfeed_cdf", store, feed)
    try {
      spark.sql("UPDATE graft.rlo_morfeed SET bal = 100.0 WHERE k = 5") // v1 + feed v1
      spark.sql("DELETE FROM graft.rlo_morfeed WHERE k = 7")            // v2 + feed v2
      assert(CdcCatalog.compact("rlo_morfeed") === Some(3L))
      // feed v3 exists and is EMPTY (compaction is logically a no-op)
      assert(Cdc.feedVersions(spark, feed).sorted === Seq(1L, 2L, 3L))
      assert(spark.read.parquet(s"$feed/v=3").count() === 0L)
      // a consumer resuming from v2 crosses the boundary cleanly
      assert(Cdc.readFeedSince(spark, feed, 2L).count() === 0L)
      // ...and one from v1 still sees exactly v2's delete
      val since1 = Cdc.readFeedSince(spark, feed, 1L)
        .select("k", "_change_type").as[(Long, String)].collect().toSet
      assert(since1 === Set((7L, "delete")))
    } finally {
      CdcCatalog.unregister("rlo_morfeed"); CdcCatalog.unregister("rlo_morfeed_cdf")
    }
  }
}
