package graft.sources.cdc

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for the catalog FEED table ([[CdcFeedTable]] — the streaming-CDF
  * contract on the store's materialized change feed):
  *  - batch read serves exactly the retained feed history (the
  *    concatenation of every committed `v=<id>` directory), CDF row shape
  *    intact, with column pruning reaching the scan;
  *  - `readStream.table` tails the same rows; a checkpoint resume after
  *    new versions land serves ONLY the new versions (exactly-once);
  *  - retention is LOUD: a resume whose next needed version was vacuumed
  *    throws (never silently skips); a fresh stream starts at the oldest
  *    retained version.
  */
class CdcFeedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val n = 8

  /** Maintained store with an incremental feed: seed + 3 micro-batches
    * (versions 0,1,2; feed lands at v=1 and v=2). Returns (store, feed). */
  private def buildFed(): (String, String) = {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_feedtbl_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_ckpt").toString
    val feed = java.nio.file.Files.createTempDirectory("graft_feedtbl_feed").toString
    val seed = (1L to 40L).map(k => (k, s"orig$k", k * 1.5)).toDF("k", "name", "bal")
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val q = Cdc.maintainPartitionedSnapshot(
      mem.toDF().toDF("k", "name", "bal", "seq", "op"),
      seed, keys, Seq(col("seq")), col("op"), store, ckpt, n,
      feedPath = Some(feed)).start()
    try {
      mem.addData((1L, "a1", 10.0, 1L, "U"), (30L, "nu", 30.0, 2L, "I"))
      q.processAllAvailable()
      mem.addData((1L, "a2", 11.0, 3L, "U"), (7L, "gone", 0.0, 4L, "D"))
      q.processAllAvailable()
      mem.addData((30L, "nu2", 33.0, 5L, "U"))
      q.processAllAvailable()
    } finally q.stop()
    (store, feed)
  }

  /** The maintainer's per-version feed materialization, replayed for one
    * out-of-band batch (what the next maintainer micro-batch would do). */
  private def landVersion(
      store: String, feed: String, id: Long,
      rows: Seq[(Long, String, Double, Long, String)]): Unit = {
    val parent = Cdc.manifestVersions(spark, store).filter(_ < id).max
    val seed = Cdc.readPartitionedSnapshot(spark, store).limit(0)
    Cdc.processPartitionedBatch(rows.toDF("k", "name", "bal", "seq", "op"),
      seed, keys, Seq(col("seq")), col("op"), store, n, id)
    Cdc.changesBetweenCdf(spark, store, parent, id, keys)
      .write.mode("overwrite").parquet(s"$feed/v=$id")
  }

  private type CdfRow = (Long, String, Double, String, Long)
  private def cdfSet(df: org.apache.spark.sql.DataFrame): Set[CdfRow] =
    df.select("k", "name", "bal", "_change_type", "_commit_version")
      .as[CdfRow].collect().toSet
  private def feedOf(feed: String, v: Long): Set[CdfRow] =
    cdfSet(spark.read.parquet(s"$feed/v=$v"))

  test("batch read serves the retained CDF history; column pruning reaches the scan") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_hist", store, feed)
    try {
      val expected = feedOf(feed, 1L) ++ feedOf(feed, 2L)
      assert(expected.nonEmpty)
      assert(cdfSet(spark.table("graft.feed_hist")) === expected)
      // schema = payload ++ CDF columns, in order
      assert(spark.table("graft.feed_hist").columns.toSeq ===
        Seq("k", "name", "bal", "_change_type", "_commit_version", "_commit_timestamp"))
      // _commit_timestamp is the committing version's own wall clock (the
      // feed commit marker's mtime), constant within a version and
      // non-decreasing across them
      val ts = spark.table("graft.feed_hist")
        .select("_commit_version", "_commit_timestamp").distinct()
        .as[(Long, java.sql.Timestamp)].collect().toSeq.sortBy(_._1)
      assert(ts.map(_._1) === Seq(1L, 2L), "one timestamp per version")
      ts.foreach { case (v, t) =>
        assert(t.getTime === Cdc.feedCommitTime(spark, feed, v),
          s"v=$v timestamp is not the feed commit marker's mtime")
      }
      assert(ts.map(_._2.getTime) === ts.map(_._2.getTime).sorted)
      // pruning: a 2-column projection reaches the scan as a 2-column read
      val pruned = spark.table("graft.feed_hist").select("k", "_change_type")
      val scan = pruned.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }
        .collectFirst { case s: CdcFeedScan => s }
      assert(scan.isDefined, pruned.queryExecution.executedPlan.toString.take(1500))
      assert(scan.get.readSchema().fieldNames.toSeq === Seq("k", "_change_type"))
    } finally CdcCatalog.unregister("feed_hist")
  }

  test("readStream.table tails the feed; checkpoint resume serves ONLY new versions") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_tail", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_sckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("graft.feed_tail")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      runOnce()
      assert(cdfSet(spark.read.parquet(out)) === feedOf(feed, 1L) ++ feedOf(feed, 2L))
      // two more store versions land, then the consumer resumes
      landVersion(store, feed, 3L, Seq((2L, "b3", 20.0, 6L, "U")))
      landVersion(store, feed, 4L, Seq((30L, "nu3", 34.0, 7L, "U")))
      runOnce()
      val all = cdfSet(spark.read.parquet(out))
      assert(all === feedOf(feed, 1L) ++ feedOf(feed, 2L) ++ feedOf(feed, 3L) ++ feedOf(feed, 4L),
        "resume re-read or dropped feed versions")
      // exactly-once: no row was delivered twice across the two runs
      assert(spark.read.parquet(out).count() ===
        (1L to 4L).map(v => feedOf(feed, v).size.toLong).sum)
    } finally CdcCatalog.unregister("feed_tail")
  }

  test("the streaming tail crosses a BUCKET SPLIT: resume serves the split's empty " +
      "feed version and every post-split delta; N-epoch tail == the per-version CDF union") {
    val (store, feed) = buildFed() // store v0,1,2; feed v=1,2 at 8 buckets
    CdcCatalog.register("feed_split_store", store, keys, n)
    CdcCatalog.registerFeed("feed_split_tail", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_split_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_split_ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("graft.feed_split_tail")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      runOnce() // consumer checkpoint parked at v=2
      // layout evolution UNDER the parked consumer: the catalog split
      // commits v=3 (metadata-only, 8 -> 16) and materializes its EMPTY
      // feed version — the contiguity the tail's gap detection needs
      CdcCatalog.split("feed_split_store")
      assert(Cdc.manifestVersions(spark, store).max === 3L)
      assert(feedOf(feed, 3L).isEmpty, "a split changes no logical row")
      // post-split delta at the NEW bucket count
      val parent = Cdc.manifestVersions(spark, store).max
      Cdc.processPartitionedBatch(
        Seq((2L, "post-split", 22.0, 8L, "U"), (30L, "", 0.0, 9L, "D"))
          .toDF("k", "name", "bal", "seq", "op"),
        Cdc.readPartitionedSnapshot(spark, store).limit(0),
        keys, Seq(col("seq")), col("op"), store, 16, parent + 1)
      Cdc.changesBetweenCdf(spark, store, parent, parent + 1, keys)
        .write.mode("overwrite").parquet(s"$feed/v=${parent + 1}")
      runOnce() // resume: must serve v=3 (empty) + v=4, exactly once
      val all = cdfSet(spark.read.parquet(out))
      val perVersion = (1L to 4L).map(v =>
        cdfSet(Cdc.changesBetweenCdf(spark, store, v - 1, v, keys))).reduce(_ ++ _)
      assert(all === perVersion, "tail across the split drifted from the CDF union")
      assert(spark.read.parquet(out).count() === perVersion.size.toLong,
        "a feed row was delivered twice across the split")
    } finally {
      CdcCatalog.unregister("feed_split_store")
      CdcCatalog.unregister("feed_split_tail")
    }
  }

  test("initialSnapshot bootstraps a new consumer: batch 0 is the snapshot as inserts, " +
      "the tail serves only the deltas after it, and the materialized view equals the store") {
    val (store, feed) = buildFed() // store versions 0,1,2; feed v=1,2
    CdcCatalog.registerFeed("feed_boot", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_boot_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_boot_ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.option("initialSnapshot", "true").table("graft.feed_boot")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def snapAsInserts(v: Long): Set[CdfRow] =
      Cdc.readPartitionedSnapshot(spark, store, Some(v))
        .select("k", "name", "bal").as[(Long, String, Double)].collect()
        .map { case (k, nm, b) => (k, nm, b, "insert", v) }.toSet
    try {
      runOnce()
      // batch 0 = snapshot@2 as inserts; the feed's RETAINED v=1,2 are
      // NOT replayed (the snapshot already contains their effects)
      assert(cdfSet(spark.read.parquet(out)) === snapAsInserts(2L))
      // the bootstrap's _commit_timestamp is the STORE commit's wall clock
      val ts = spark.read.parquet(out).select("_commit_timestamp").distinct()
        .as[java.sql.Timestamp].collect().toSeq
      val expectMs = Cdc.versionCommitTimes(spark, store).find(_._1 == 2L).get._2
      assert(ts.map(_.getTime) === Seq(expectMs))
      // a delta lands; the resumed consumer gets ONLY the delta
      landVersion(store, feed, 3L, Seq((2L, "boot3", 9.9, 6L, "U"), (30L, "x", 0.0, 7L, "D")))
      runOnce()
      val all = cdfSet(spark.read.parquet(out))
      assert(all === snapAsInserts(2L) ++ feedOf(feed, 3L), "resume must serve only v=3")
      // downstream materialization off the stream alone ≡ the store:
      // latest non-preimage change per key, deletes drop the key
      val view = spark.read.parquet(out)
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("k").orderBy(col("_commit_version").desc)))
        .filter(col("rn") === 1 && col("_change_type") =!= "delete")
        .select("k", "name", "bal").as[(Long, String, Double)].collect().toSet
      val storeNow = Cdc.readPartitionedSnapshot(spark, store)
        .select("k", "name", "bal").as[(Long, String, Double)].collect().toSet
      assert(view === storeNow, "materialized view diverged from the store")
      // initialSnapshot pins its own start: combining with startingVersion refuses
      val e = intercept[Exception] {
        spark.readStream.option("initialSnapshot", "true").option("startingVersion", "1")
          .table("graft.feed_boot")
          .writeStream.format("noop").option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft_boot_x").toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("mutually exclusive")), msgs(e).mkString(" | "))
    } finally CdcCatalog.unregister("feed_boot")
  }

  test("_commit_version range pushdown prunes version directories; rows stay exact") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_rng", store, feed)
    landVersion(store, feed, 3L, Seq((2L, "b3", 20.0, 6L, "U")))
    try {
      def scanOf(df: org.apache.spark.sql.DataFrame): CdcFeedScan =
        df.queryExecution.executedPlan
          .collect { case b: BatchScanExec => b.scan }
          .collectFirst { case s: CdcFeedScan => s }.get
      // the incremental catch-up read: only versions > checkpoint planned
      val inc = spark.table("graft.feed_rng").filter(col("_commit_version") > 1L)
      assert(scanOf(inc).plannedVersions === Seq(2L, 3L),
        s"planned ${scanOf(inc).plannedVersions}")
      assert(cdfSet(inc) === feedOf(feed, 2L) ++ feedOf(feed, 3L))
      // point and band reads
      val point = spark.table("graft.feed_rng").filter(col("_commit_version") === 2L)
      assert(scanOf(point).plannedVersions === Seq(2L))
      assert(cdfSet(point) === feedOf(feed, 2L))
      val band = spark.table("graft.feed_rng")
        .filter(col("_commit_version") >= 2L && col("_commit_version") < 3L)
      assert(scanOf(band).plannedVersions === Seq(2L))
      // the planner sees the PRUNED size: a catch-up read costs less
      // than the retained history (broadcast decisions stay honest)
      val full = spark.table("graft.feed_rng")
      assert(scanOf(point).estimateStatistics().sizeInBytes().getAsLong <
        scanOf(full).estimateStatistics().sizeInBytes().getAsLong)
      // a non-version filter prunes nothing and still returns exact rows
      val other = spark.table("graft.feed_rng").filter(col("k") === 1L)
      assert(scanOf(other).plannedVersions === Seq(1L, 2L, 3L))
      assert(cdfSet(other) ===
        (feedOf(feed, 1L) ++ feedOf(feed, 2L) ++ feedOf(feed, 3L)).filter(_._1 == 1L))
    } finally CdcCatalog.unregister("feed_rng")
  }

  test("admission control: maxVersionsPerTrigger replays the backlog one version per micro-batch") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_adm", store, feed)
    landVersion(store, feed, 3L, Seq((2L, "b3", 20.0, 6L, "U")))
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_aout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_ackpt").toString
    try {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table("graft.feed_adm")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // all three versions served...
      assert(cdfSet(spark.read.parquet(out)) ===
        feedOf(feed, 1L) ++ feedOf(feed, 2L) ++ feedOf(feed, 3L))
      // ...across THREE bounded micro-batches, each one store version
      val progress = new java.io.File(s"$ckpt/offsets").listFiles()
        .filter(_.getName.forall(_.isDigit)).map(_.getName.toInt).sorted
      assert(progress.length === 3,
        s"expected 3 one-version micro-batches, got offsets ${progress.toSeq}")
    } finally CdcCatalog.unregister("feed_adm")
  }

  test("startingVersion pins the tail's first version; behind retention it is loud") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_sv", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_svout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_svckpt").toString
    try {
      val q = spark.readStream
        .option("startingVersion", "2")
        .table("graft.feed_sv")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(cdfSet(spark.read.parquet(out)) === feedOf(feed, 2L),
        "the tail must begin at exactly startingVersion")
      // behind retention: loud, never a silent skip
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q2 = spark.readStream
          .option("startingVersion", "0")
          .table("graft.feed_sv")
          .writeStream.format("parquet")
          .option("path", java.nio.file.Files.createTempDirectory("graft_sv2").toString)
          .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft_sv2c").toString)
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("predates the oldest retained feed version")),
        messages(e).mkString(" | "))
    } finally CdcCatalog.unregister("feed_sv")
  }

  test("startingTimestamp pins the tail's first version by commit time; " +
      "out-of-window timestamps are loud both ways") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_st", store, feed)
    // pin the feed commit clocks deterministically (the _SUCCESS mtime IS
    // the commit timestamp): v1 at 1970-01-02T00:00Z, v2 a day later
    val day = 86400000L
    assert(new java.io.File(s"$feed/v=1/_SUCCESS").setLastModified(day))
    assert(new java.io.File(s"$feed/v=2/_SUCCESS").setLastModified(2 * day))
    def runWith(opts: Map[String, String]): Set[CdfRow] = {
      val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_stout").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_stckpt").toString
      val reader = opts.foldLeft(spark.readStream) { case (r, (k, v)) => r.option(k, v) }
      val q = reader.table("graft.feed_st")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      cdfSet(spark.read.parquet(out))
    }
    try {
      // between the two commits → starts at v2 (first commit AT or AFTER)
      assert(runWith(Map("startingTimestamp" -> (day + 1).toString)) === feedOf(feed, 2L))
      // exactly the first retained commit → starts at v1 (the full tail)
      assert(runWith(Map("startingTimestamp" -> day.toString)) ===
        feedOf(feed, 1L) ++ feedOf(feed, 2L))
      // SQL timestamp string form resolves too
      assert(runWith(Map("startingTimestamp" -> "1970-01-03 00:00:00")) === feedOf(feed, 2L))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      // behind the oldest retained commit: loud (vacuumed deltas would be skipped)
      val e1 = intercept[Exception](runWith(Map("startingTimestamp" -> (day - 1).toString)))
      assert(messages(e1).exists(_.contains("predates the oldest retained single feed commit")),
        messages(e1).mkString(" | "))
      // after the newest commit: loud (never an implicit start-at-latest)
      val e2 = intercept[Exception](runWith(Map("startingTimestamp" -> (3 * day).toString)))
      assert(messages(e2).exists(_.contains("after the newest feed commit")),
        messages(e2).mkString(" | "))
      // mutually exclusive with startingVersion
      val e3 = intercept[Exception](runWith(Map(
        "startingTimestamp" -> day.toString, "startingVersion" -> "2")))
      assert(messages(e3).exists(_.contains("mutually exclusive")), messages(e3).mkString(" | "))
    } finally CdcCatalog.unregister("feed_st")
  }

  test("batch DML on a feed-registered store materializes feed entries: the version " +
      "line stays contiguous and a tailing consumer sees every DML's changes") {
    val (store, feed) = buildFed()
    CdcCatalog.register("feed_dml_store", store, keys, n)
    CdcCatalog.registerFeed("feed_dml", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_dout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_dckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("graft.feed_dml")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      runOnce() // checkpoint at v=2
      // three batch DML paths, each minting one store version: INSERT
      // (InsertableRelation), keyed DELETE (deleteWhere), and a wide
      // DELETE (the delta-based row-level path)
      spark.sql("INSERT INTO graft.feed_dml_store VALUES (60, 'ins60', 6.0)") // v=3
      spark.sql("DELETE FROM graft.feed_dml_store WHERE k = 2")               // v=4
      spark.sql("DELETE FROM graft.feed_dml_store WHERE k = 3 AND bal > 0.0") // v=5
      assert(Cdc.manifestVersions(spark, store).max === 5L)
      assert(Cdc.feedVersions(spark, feed).sorted === Seq(1L, 2L, 3L, 4L, 5L),
        "every DML commit must land a feed entry — no holes in the version line")
      assert(feedOf(feed, 3L) === Set((60L, "ins60", 6.0, "insert", 3L)))
      assert(feedOf(feed, 4L).map(r => (r._1, r._4)) === Set((2L, "delete")))
      assert(feedOf(feed, 5L).map(r => (r._1, r._4)) === Set((3L, "delete")))
      // the tailing consumer resumes across the DML versions seamlessly
      runOnce()
      assert(cdfSet(spark.read.parquet(out)) ===
        (1L to 5L).map(feedOf(feed, _)).reduce(_ ++ _))
    } finally { CdcCatalog.unregister("feed_dml"); CdcCatalog.unregister("feed_dml_store") }
  }

  test("bootstrap admission: maxBucketsPerTrigger chunks the snapshot across " +
      "micro-batches — exactly-once union, no giant batch 0") {
    val (store, feed) = buildFed() // 8 buckets, all non-empty (40 keys)
    CdcCatalog.registerFeed("feed_bootchunk", store, feed)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bootchunk_ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Seq[CdfRow])]()
    try {
      val q = spark.readStream
        .option("initialSnapshot", "true").option("maxBucketsPerTrigger", "3")
        .table("graft.feed_bootchunk")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = df.select("k", "name", "bal", "_change_type", "_commit_version")
            .as[CdfRow].collect().toSeq
          batches.synchronized { batches += ((id, rows)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val nonEmpty = batches.filter(_._2.nonEmpty)
      val dirCount = Cdc.servingState(spark, store)._4.size
      val expectedChunks = (dirCount + 2) / 3
      assert(nonEmpty.length === expectedChunks,
        s"snapshot should span ceil($dirCount/3)=$expectedChunks batches, " +
          s"got ${nonEmpty.map(_._2.size)}")
      // exactly-once union: every snapshot row once, as inserts at v2
      val all = nonEmpty.flatMap(_._2)
      val snap = Cdc.readPartitionedSnapshot(spark, store)
        .select("k", "name", "bal").as[(Long, String, Double)].collect()
        .map { case (k, nm, b) => (k, nm, b, "insert", 2L) }.toSet
      assert(all.toSet === snap)
      assert(all.size === snap.size, "a bucket chunk was double-served")
    } finally CdcCatalog.unregister("feed_bootchunk")
  }

  test("feed aggregates fold from footer statistics: COUNT(*)/payload MIN/MAX with " +
      "zero page decode; CDF constant columns and filters keep the real scan") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_stats", store, feed)
    try {
      def scanOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.connector.read.Scan =
        df.queryExecution.executedPlan.collect {
          case b: BatchScanExec => Seq(b.scan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.collect { case b: BatchScanExec => b.scan }
        }.flatten.head
      val raw = spark.read.parquet(s"$feed/v=1", s"$feed/v=2")
      val aggCols = Seq(count(lit(1)).as("n"), min(col("bal")).as("lo"),
        max(col("bal")).as("hi"), count(col("name")).as("names"))
      val pushedDf = spark.table("graft.feed_stats").agg(aggCols.head, aggCols.tail: _*)
      assert(scanOf(pushedDf).isInstanceOf[CdcStatsScan], scanOf(pushedDf).description())
      assert(pushedDf.collect().toSeq ===
        raw.agg(aggCols.head, aggCols.tail: _*).collect().toSeq)
      // _commit_version is a per-unit CONSTANT (absent from fine-grained
      // footers) — folding it from stats would misread; real scan instead
      val cv = spark.table("graft.feed_stats").agg(max(col("_commit_version")))
      assert(scanOf(cv).isInstanceOf[CdcFeedScan], scanOf(cv).description())
      assert(cv.as[Long].head() === 2L)
      // a version-range filter keeps the real scan (residuals need rows)
      val filtered = spark.table("graft.feed_stats")
        .filter(col("_commit_version") === 2L).agg(count(lit(1)))
      assert(scanOf(filtered).isInstanceOf[CdcFeedScan], scanOf(filtered).description())
      // an EMPTY feed (maintainer hasn't committed a version yet) counts
      // 0, not NULL: the stats scan must emit one zero-count partial row
      // because Spark's partial-pushdown rewrite SUMs the partials
      CdcCatalog.registerFeed("feed_stats_empty", store,
        java.nio.file.Files.createTempDirectory("graft_feed_empty").toString)
      try {
        val empty = spark.table("graft.feed_stats_empty")
          .agg(count(lit(1)).as("n"), min(col("bal")).as("lo"))
        assert(scanOf(empty).isInstanceOf[CdcStatsScan], scanOf(empty).description())
        val row = empty.collect().head
        assert(!row.isNullAt(0) && row.getLong(0) === 0L,
          s"count over an empty feed must be 0, got $row")
        assert(row.isNullAt(1), "min over an empty feed is NULL")
      } finally CdcCatalog.unregister("feed_stats_empty")
      // COMPACTED feed: folding a segment's footers must equal folding
      // the fine-grained dirs it replaced — compaction stays invisible
      // to the monitoring aggregates, still zero page decode. (The
      // segment materializes _commit_timestamp/_commit_version as DATA,
      // but those stay excluded from pushdown either way.)
      val expectedAgg = spark.table("graft.feed_stats")
        .agg(aggCols.head, aggCols.tail: _*).collect().toSeq
      Cdc.compactFeed(spark, feed, segmentSize = 2, keepRecentSingles = 0)
      assert(Cdc.feedSegments(spark, feed).nonEmpty, "fixture failed to compact")
      val compactDf = spark.table("graft.feed_stats").agg(aggCols.head, aggCols.tail: _*)
      assert(scanOf(compactDf).isInstanceOf[CdcStatsScan], scanOf(compactDf).description())
      assert(compactDf.collect().toSeq === expectedAgg,
        "segment footer fold diverged from the fine-grained fold")
    } finally CdcCatalog.unregister("feed_stats")
  }

  test("retention is loud: a lagging resume throws; a fresh stream starts at the oldest retained") {
    val (store, feed) = buildFed()
    CdcCatalog.registerFeed("feed_ret", store, feed)
    val out = java.nio.file.Files.createTempDirectory("graft_feedtbl_rout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feedtbl_rckpt").toString
    def runOnce(o: String, c: String): Unit = {
      val q = spark.readStream.table("graft.feed_ret")
        .writeStream.format("parquet")
        .option("path", o).option("checkpointLocation", c)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      // consumer checkpoints at v=2, then falls 3 versions behind a
      // keepVersions=2 vacuum: its next needed version (3) is gone
      runOnce(out, ckpt)
      landVersion(store, feed, 3L, Seq((2L, "b3", 20.0, 6L, "U")))
      landVersion(store, feed, 4L, Seq((3L, "c4", 30.0, 7L, "U")))
      landVersion(store, feed, 5L, Seq((4L, "d5", 40.0, 8L, "U")))
      Cdc.vacuum(spark, store, keepVersions = 2, feedPath = Some(feed))
      assert(Cdc.feedVersions(spark, feed).sorted === Seq(4L, 5L),
        "vacuum should retain only feed versions inside the manifest window")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runOnce(out, ckpt)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("feed retention exceeded")),
        s"expected a loud retention error, got: ${messages(e).mkString(" | ")}")
      // a FRESH consumer (new checkpoint) bootstraps from what is retained
      val out2 = java.nio.file.Files.createTempDirectory("graft_feedtbl_rout2").toString
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft_feedtbl_rckpt2").toString
      runOnce(out2, ckpt2)
      assert(cdfSet(spark.read.parquet(out2)) === feedOf(feed, 4L) ++ feedOf(feed, 5L))
    } finally CdcCatalog.unregister("feed_ret")
  }
}
