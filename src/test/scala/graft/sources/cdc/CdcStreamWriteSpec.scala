package graft.sources.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for STREAMING writes into catalog CDC stores
  * ([[CdcStreamingWrite]] — `writeStream.toTable("graft.x")`):
  *  - every micro-batch commits exactly ONE new store version through the
  *    keyed-upsert MERGE path; the snapshot is the stream's last-write-
  *    wins replay;
  *  - a replayed epoch (same epochId) lands on the SAME version id and is
  *    skipped once committed — exactly-once with no transaction log;
  *  - an interleaved writer moves the version line and the next stream
  *    commit fails LOUDLY (single-maintainer contract);
  *  - Update-mode streaming aggregations maintain per-key results in the
  *    store (upsert-as-append);
  *  - the full loop closes: store A's change feed, tailed as a stream,
  *    transforms into store B via toTable — an incremental pipeline with
  *    no snapshot re-reads anywhere.
  */
class CdcStreamWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val n = 8
  private val payload = StructType(Seq(
    StructField("k", LongType), StructField("name", StringType),
    StructField("bal", DoubleType)))

  /** Store seeded at v=0 with rows k=1..20. */
  private def seedStore(): String = {
    val store = java.nio.file.Files.createTempDirectory("graft_swrite_store").toString
    val seed = (1L to 20L).map(k => (k, s"orig$k", k * 1.5)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    store
  }

  private def snapshot(store: String): Set[(Long, String, Double)] =
    Cdc.readPartitionedSnapshot(spark, store)
      .select("k", "name", "bal").as[(Long, String, Double)].collect().toSet

  test("toTable commits one upsert version per micro-batch; snapshot is the keyed replay") {
    implicit val sqlCtx = spark.sqlContext
    val store = seedStore()
    CdcCatalog.register("sw_basic", store, keys, n)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_swrite_ckpt").toString
    try {
      val mem = MemoryStream[(Long, String, Double)]
      val q = mem.toDF().toDF("k", "name", "bal")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable("graft.sw_basic")
      try {
        mem.addData((1L, "up1", 10.0), (30L, "new30", 30.0))
        q.processAllAvailable()
        mem.addData((1L, "up2", 11.0), (30L, "new30b", 31.0), (31L, "new31", 41.0))
        q.processAllAvailable()
      } finally q.stop()
      // one version per epoch, on top of the seed's v=0
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, 2L))
      val expected = (2L to 20L).map(k => (k, s"orig$k", k * 1.5)).toSet ++
        Set((1L, "up2", 11.0), (30L, "new30b", 31.0), (31L, "new31", 41.0))
      assert(snapshot(store) === expected)
      // the versions are ordinary store history: time travel still serves v=1
      val v1 = Cdc.readPartitionedSnapshot(spark, store, Some(1L))
        .select("k", "name").as[(Long, String)].collect().toMap
      assert(v1(1L) === "up1" && v1(30L) === "new30")
    } finally CdcCatalog.unregister("sw_basic")
  }

  /** Direct replay drill: stage → commit → re-stage the SAME epoch →
    * commit again. The second commit must recognize the committed version
    * and skip — snapshot and version line unchanged. Also: an epoch that
    * staged nothing commits an EMPTY version (carry-everything manifest),
    * keeping the version line one-per-epoch. */
  test("a replayed epoch commits exactly once; an empty epoch commits an empty version") {
    val store = seedStore()
    val d = CdcCatalog.StoreDef(store, keys, n)
    val sw = new CdcStreamingWrite("graft.sw_replay", d, payload, "qrep")
    def stage(epoch: Long, rows: Seq[(Long, String, Double)], task: Long) = {
      val w = new CdcStagingWriterFactory(store, "qrep", payload).createWriter(0, task, epoch)
      rows.foreach { case (k, nm, b) =>
        w.write(InternalRow(k, UTF8String.fromString(nm), b)) }
      w.commit()
    }
    sw.commit(0L, Array(stage(0L, Seq((1L, "e0", 1.0)), 1L)))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    val after = snapshot(store)
    assert(after.contains((1L, "e0", 1.0)))
    // replay: Spark re-runs the epoch's tasks (new task ids), re-commits
    sw.commit(0L, Array(stage(0L, Seq((1L, "e0", 1.0)), 2L)))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L),
      "a replayed epoch must not mint a new version")
    assert(snapshot(store) === after)
    // empty epoch: no staged rows → empty version, all buckets carried
    sw.commit(1L, Array.empty)
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, 2L))
    assert(snapshot(store) === after, "an empty version must carry every bucket")
  }

  test("an interleaved writer moves the version line: the next stream commit is LOUD") {
    val store = seedStore()
    val d = CdcCatalog.StoreDef(store, keys, n)
    val sw = new CdcStreamingWrite("graft.sw_fence", d, payload, "qfence")
    def staged(epoch: Long, k: Long) = {
      val w = new CdcStagingWriterFactory(store, "qfence", payload).createWriter(0, epoch * 10, epoch)
      w.write(InternalRow(k, UTF8String.fromString(s"e$epoch"), 1.0))
      w.commit()
    }
    sw.commit(0L, Array(staged(0L, 1L))) // v=1
    // another maintainer commits v=2 behind the stream's back
    val intruder = Seq((2L, "batch", 9.9)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      intruder.withColumn("_seq", lit(2L)).withColumn("_op", lit("U")),
      intruder.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 2L)
    val e = intercept[IllegalArgumentException] { sw.commit(1L, Array(staged(1L, 3L))) }
    assert(e.getMessage.contains("version line moved"), e.getMessage)
    assert(!snapshot(store).contains((3L, "e1", 1.0)), "the fenced epoch must not land")
  }

  test("update-mode streaming aggregation maintains per-key counts in the store") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_swrite_agg").toString
    val seed = Seq((0L, 0L)).toDF("k", "cnt") // seeded counter table
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    CdcCatalog.register("sw_agg", store, keys, n)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_swrite_aggc").toString
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().toDF("k")
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .toTable("graft.sw_agg")
      try {
        mem.addData(1L, 1L, 2L)
        q.processAllAvailable()
        mem.addData(1L, 3L)
        q.processAllAvailable()
      } finally q.stop()
      val got = Cdc.readPartitionedSnapshot(spark, store)
        .select("k", "cnt").as[(Long, Long)].collect().toMap
      // update mode re-emits only changed keys; upsert keeps the rest
      assert(got === Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally CdcCatalog.unregister("sw_agg")
  }

  test("closed loop: store A's feed, tailed as a stream, maintains store B via toTable") {
    implicit val sqlCtx = spark.sqlContext
    // store A with a materialized feed (the maintenance side)
    val storeA = java.nio.file.Files.createTempDirectory("graft_swloop_a").toString
    val feedA = java.nio.file.Files.createTempDirectory("graft_swloop_feed").toString
    val ckptA = java.nio.file.Files.createTempDirectory("graft_swloop_ca").toString
    val seedA = (1L to 10L).map(k => (k, s"a$k", k * 1.0)).toDF("k", "name", "bal")
    val memA = MemoryStream[(Long, String, Double, Long, String)]
    val qA = Cdc.maintainPartitionedSnapshot(
      memA.toDF().toDF("k", "name", "bal", "seq", "op"),
      seedA, keys, Seq(col("seq")), col("op"), storeA, ckptA, n,
      feedPath = Some(feedA)).start()
    try {
      memA.addData((1L, "a1x", 100.0, 1L, "U"), (11L, "a11", 11.0, 2L, "I"))
      qA.processAllAvailable()
      memA.addData((2L, "a2x", 200.0, 3L, "U"), (11L, "gone", 0.0, 4L, "D"))
      qA.processAllAvailable()
    } finally qA.stop()
    // store B: the downstream projection (k, bal) of A's post-images
    val storeB = java.nio.file.Files.createTempDirectory("graft_swloop_b").toString
    val seedB = Cdc.readPartitionedSnapshot(spark, storeA, Some(0L)).select("k", "bal")
    Cdc.processPartitionedBatch(
      seedB.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seedB.limit(0), keys, Seq(col("_seq")), col("_op"), storeB, n, 0L)
    CdcCatalog.registerFeed("sw_loop_feed", storeA, feedA)
    CdcCatalog.register("sw_loop_b", storeB, keys, n)
    val ckptB = java.nio.file.Files.createTempDirectory("graft_swloop_cb").toString
    try {
      // the incremental pipeline: feed tail → transform → keyed upsert.
      // (Deletes ride as upserts of a tombstone balance here — B's schema
      // has no op column; a full-fidelity mirror would map `delete` to
      // op=D on the maintenance API.)
      val q = spark.readStream.table("graft.sw_loop_feed")
        .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
        .select(col("k"),
          when(col("_change_type") === "delete", lit(-1.0)).otherwise(col("bal")).as("bal"))
        .writeStream.option("checkpointLocation", ckptB)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.sw_loop_b")
      q.awaitTermination()
      val got = Cdc.readPartitionedSnapshot(spark, storeB)
        .select("k", "bal").as[(Long, Double)].collect().toMap
      val expected = (3L to 10L).map(k => k -> k * 1.0).toMap ++
        Map(1L -> 100.0, 2L -> 200.0, 11L -> -1.0)
      assert(got === expected)
    } finally { CdcCatalog.unregister("sw_loop_feed"); CdcCatalog.unregister("sw_loop_b") }
  }

  test("medallion chain: bronze feed → silver store+feed → gold store, all incremental") {
    implicit val sqlCtx = spark.sqlContext
    // BRONZE: maintained store with a materialized feed
    val bStore = java.nio.file.Files.createTempDirectory("graft_med_b").toString
    val bFeed = java.nio.file.Files.createTempDirectory("graft_med_bf").toString
    val bCkpt = java.nio.file.Files.createTempDirectory("graft_med_bc").toString
    val seedB = (1L to 12L).map(k => (k, s"b$k", k * 1.0)).toDF("k", "name", "bal")
    val memB = MemoryStream[(Long, String, Double, Long, String)]
    val qB = Cdc.maintainPartitionedSnapshot(
      memB.toDF().toDF("k", "name", "bal", "seq", "op"),
      seedB, keys, Seq(col("seq")), col("op"), bStore, bCkpt, n,
      feedPath = Some(bFeed)).start()
    def bronzeBatch(rows: (Long, String, Double, Long, String)*): Unit = {
      memB.addData(rows: _*); qB.processAllAvailable()
    }
    // bronze v0 = seed merged with the FIRST wave (the maintainer's first
    // micro-batch materializes the seed; the feed starts at v1)
    bronzeBatch((1L, "up", 10.0, 1L, "U"), (20L, "new", 20.0, 2L, "I"))
    // SILVER: maintained BY the streaming sink, with its own feed — the
    // sink materializes each committed version's CDF there, so gold can
    // tail silver exactly as silver tails bronze
    val sStore = java.nio.file.Files.createTempDirectory("graft_med_s").toString
    val sFeed = java.nio.file.Files.createTempDirectory("graft_med_sf").toString
    val seedS = Cdc.readPartitionedSnapshot(spark, bStore, Some(0L)).select("k", "bal")
    Cdc.processPartitionedBatch(
      seedS.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seedS.limit(0), keys, Seq(col("_seq")), col("_op"), sStore, n, 0L)
    val gStore = java.nio.file.Files.createTempDirectory("graft_med_g").toString
    // gold's seed = the gold transform applied to silver's seed (an
    // initial load); the stream then maintains it incrementally
    val seedG = Cdc.readPartitionedSnapshot(spark, sStore, Some(0L))
      .select(col("k"), (col("bal") * 100).as("bal"))
    Cdc.processPartitionedBatch(
      seedG.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seedG.limit(0), keys, Seq(col("_seq")), col("_op"), gStore, n, 0L)
    CdcCatalog.registerFeed("med_bfeed", bStore, bFeed)
    CdcCatalog.register("med_silver", sStore, keys, n)
    CdcCatalog.registerFeed("med_sfeed", sStore, sFeed)
    CdcCatalog.register("med_gold", gStore, keys, n)
    val sCkpt = java.nio.file.Files.createTempDirectory("graft_med_sc").toString
    val gCkpt = java.nio.file.Files.createTempDirectory("graft_med_gc").toString
    def hopSilver(): Unit = {
      val q = spark.readStream.table("graft.med_bfeed")
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("k"), col("bal"))
        .writeStream.option("checkpointLocation", sCkpt)
        .trigger(Trigger.AvailableNow()).toTable("graft.med_silver")
      q.awaitTermination()
    }
    def hopGold(): Unit = {
      val q = spark.readStream.table("graft.med_sfeed")
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("k"), (col("bal") * 100).as("bal"))
        .writeStream.option("checkpointLocation", gCkpt)
        .trigger(Trigger.AvailableNow()).toTable("graft.med_gold")
      q.awaitTermination()
    }
    def gold(): Map[Long, Double] = Cdc.readPartitionedSnapshot(spark, gStore)
      .select("k", "bal").as[(Long, Double)].collect().toMap
    try {
      // gold's initial load = bronze v0 through both transforms
      val expected0 = ((2L to 12L).map(k => k -> k * 100.0) ++
        Seq(1L -> 1000.0, 20L -> 2000.0)).toMap
      assert(gold() === expected0)
      // a bronze wave propagates through both hops incrementally
      bronzeBatch((2L, "up2", 200.0, 3L, "U"), (21L, "new21", 21.0, 4L, "I"))
      hopSilver(); hopGold()
      val expected1 = expected0 ++ Map(2L -> 20000.0, 21L -> 2100.0)
      assert(gold() === expected1)
      // and a second wave rides ONLY the new feed versions
      bronzeBatch((3L, "up3", 300.0, 5L, "U"))
      hopSilver(); hopGold()
      assert(gold() === expected1 ++ Map(3L -> 30000.0))
      // silver's feed was written by the SINK, one version per epoch,
      // and is what gold actually consumed
      assert(Cdc.feedVersions(spark, sFeed).nonEmpty)
    } finally {
      qB.stop()
      Seq("med_bfeed", "med_silver", "med_sfeed", "med_gold").foreach(CdcCatalog.unregister)
    }
  }

  test("DML coexistence: catalog batch DML between stream epochs re-pins the stream's " +
      "version line (both keep landing); a crashed epoch whose slot was taken by DML " +
      "re-commits instead of silently skipping; non-DML intruders stay loud") {
    val store = seedStore()
    val d = CdcCatalog.StoreDef(store, keys, n)
    val sw = new CdcStreamingWrite("graft.sw_coexist", d, payload, "qcoexist")
    def staged(epoch: Long, k: Long, name: String) = {
      val w = new CdcStagingWriterFactory(store, "qcoexist", payload)
        .createWriter(0, epoch * 10, epoch)
      w.write(InternalRow(k, UTF8String.fromString(name), 1.0))
      w.commit()
    }
    sw.commit(0L, Array(staged(0L, 1L, "e0"))) // stream owns v=1
    // batch DML (CAS) lands v=2 while the stream is idle — the supported
    // between-epochs coexistence case
    def dml(id: Long, k: Long, name: String): Unit = {
      val df = Seq((k, name, 9.9)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        df.withColumn("_seq", lit(id)).withColumn("_op", lit("U")),
        df.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, id, casCommit = true)
    }
    dml(2L, 2L, "dml2")
    // the next stream epoch RE-PINS past the DML commit and lands at v=3
    sw.commit(1L, Array(staged(1L, 3L, "e1")))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, 2L, 3L))
    val snap1 = snapshot(store)
    assert(snap1.contains((1L, "e0", 1.0)) && snap1.contains((2L, "dml2", 9.9)) &&
      snap1.contains((3L, "e1", 1.0)), s"missing effects in $snap1")
    // CRASHED-EPOCH slot theft: epoch 2 records intent (maps to v=4),
    // crashes before its commit; DML then takes v=4. The replay must
    // RE-COMMIT the epoch (at v=5), never skip it as its own.
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_streams/intents_q=qcoexist/e=2"), true).close()
    dml(4L, 4L, "dml4")
    sw.commit(2L, Array(staged(2L, 5L, "e2")))
    assert(Cdc.manifestVersions(spark, store).max === 5L)
    val snap2 = snapshot(store)
    assert(snap2.contains((5L, "e2", 1.0)),
      "a crashed epoch whose slot DML stole must re-land, not silently skip")
    assert(snap2.contains((4L, "dml4", 9.9)))
    // a NON-DML intruder (second maintainer) still fences loudly
    val intruder = Seq((6L, "other", 1.0)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      intruder.withColumn("_seq", lit(6L)).withColumn("_op", lit("U")),
      intruder.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 6L)
    val e = intercept[IllegalArgumentException] {
      sw.commit(3L, Array(staged(3L, 7L, "e3")))
    }
    assert(e.getMessage.contains("version line moved") &&
      e.getMessage.contains("MAINTAINER"), e.getMessage)
    assert(!snapshot(store).contains((7L, "e3", 1.0)))
  }

  test("merge-on-read streaming maintenance: a morDml store's epochs commit per-bucket " +
      "DELTAS (O(epoch delta) rows written, not O(bucket)), serve identically to a " +
      "copy-on-write twin, replay exactly-once, and keep a registered CDF contiguous") {
    // a store big enough that a full-bucket rewrite is visibly larger
    // than a 2-row epoch delta (400 keys / 8 buckets ≈ 50 rows per bucket)
    def bigStore(tag: String): String = {
      val store = java.nio.file.Files.createTempDirectory(s"graft_swmor_$tag").toString
      val seed = (1L to 400L).map(k => (k, s"orig$k", k * 1.5)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
        seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
      store
    }
    val mor = bigStore("mor")
    val cow = bigStore("cow")
    val feed = s"$mor/feed"
    val cowFeed = s"$cow/feed"
    CdcCatalog.register("sw_mor", mor, keys, n, morDml = true)
    CdcCatalog.registerFeed("sw_mor_cdf", mor, feed)
    CdcCatalog.register("sw_mor_cow", cow, keys, n) // copy-on-write twin
    CdcCatalog.registerFeed("sw_mor_cow_cdf", cow, cowFeed)
    try {
      def sw(name: String, d: CdcCatalog.StoreDef, q: String) =
        new CdcStreamingWrite(name, d, payload, q)
      val swMor = sw("graft.sw_mor", CdcCatalog.StoreDef(mor, keys, n, morDml = true), "qm")
      val swCow = sw("graft.sw_mor_cow", CdcCatalog.StoreDef(cow, keys, n), "qc")
      def staged(store: String, q: String, epoch: Long, task: Long,
          rows: Seq[(Long, String, Double)]) = {
        val w = new CdcStagingWriterFactory(store, q, payload).createWriter(0, task, epoch)
        rows.foreach { case (k, nm, b) =>
          w.write(InternalRow(k, UTF8String.fromString(nm), b)) }
        w.commit()
      }
      val e0 = Seq((5L, "up5", 50.0), (450L, "new450", 45.0))
      val e1 = Seq((5L, "up5b", 51.0), (7L, "gone7", -1.0))
      swMor.commit(0L, Array(staged(mor, "qm", 0L, 1L, e0)))
      swCow.commit(0L, Array(staged(cow, "qc", 0L, 1L, e0)))
      // WRITE AMPLIFICATION, measured off $files metadata: the MoR epoch's
      // writer-1 files are deltas holding exactly the 2 epoch rows; the
      // CoW twin's writer-1 files are full bucket rewrites (≈50 rows each)
      val morV1 = Cdc.describeFiles(spark, mor)
        .filter(col("_writer") === 1L)
        .select("is_delta", "file_rows").as[(Boolean, Long)].collect()
      assert(morV1.nonEmpty && morV1.forall(_._1), "MoR epoch wrote non-delta files")
      assert(morV1.map(_._2).sum === e0.length.toLong,
        s"MoR epoch wrote ${morV1.map(_._2).sum} rows, expected O(epoch delta) = ${e0.length}")
      val cowV1 = Cdc.describeFiles(spark, cow)
        .filter(col("_writer") === 1L)
        .select("file_rows").as[Long].collect().sum
      assert(cowV1 >= 40L,
        s"expected the CoW twin to rewrite whole buckets (got $cowV1 rows)")
      swMor.commit(1L, Array(staged(mor, "qm", 1L, 2L, e1)))
      swCow.commit(1L, Array(staged(cow, "qc", 1L, 2L, e1)))
      // served content identical at every version, through the catalog too
      for (v <- 0L to 2L)
        assert(Cdc.readPartitionedSnapshot(spark, mor, Some(v))
            .as[(Long, String, Double)].collect().sortBy(_._1).toSeq ===
          Cdc.readPartitionedSnapshot(spark, cow, Some(v))
            .as[(Long, String, Double)].collect().sortBy(_._1).toSeq,
          s"MoR stream diverged from CoW at v=$v")
      assert(spark.table("graft.sw_mor").as[(Long, String, Double)].collect().toSet ===
        snapshot(mor))
      // the CDF stayed contiguous and identical to the CoW twin's
      assert(Cdc.feedVersions(spark, feed).sorted === Seq(1L, 2L))
      for (v <- 1L to 2L)
        assert(spark.read.parquet(s"$feed/v=$v")
            .as[(Long, String, Double, String, Long)].collect().sortBy(r => (r._1, r._4)).toSeq ===
          spark.read.parquet(s"$cowFeed/v=$v")
            .as[(Long, String, Double, String, Long)].collect().sortBy(r => (r._1, r._4)).toSeq,
          s"MoR feed diverged at v=$v")
      // replay of the newest epoch: skipped as its own commit — version
      // line, snapshot, and the touched bucket's delta depth all unchanged
      val before = snapshot(mor)
      val depthBefore = Cdc.readManifestFull(spark, mor, 2L).values.map(_.deltas.length).max
      swMor.commit(1L, Array(staged(mor, "qm", 1L, 3L, e1)))
      assert(Cdc.manifestVersions(spark, mor).sorted === Seq(0L, 1L, 2L))
      assert(snapshot(mor) === before)
      assert(Cdc.readManifestFull(spark, mor, 2L).values.map(_.deltas.length).max ===
        depthBefore, "a replayed MoR epoch must not deepen the delta stack")
      // compaction between epochs (catalog front door): snapshot identical,
      // the stream re-pins past the CAS commit and keeps going
      val compacted = CdcCatalog.compact("sw_mor")
      assert(compacted.isDefined)
      assert(snapshot(mor) === before, "compaction changed served content")
      swMor.commit(2L, Array(staged(mor, "qm", 2L, 4L, Seq((5L, "up5c", 52.0)))))
      assert(snapshot(mor).contains((5L, "up5c", 52.0)))
    } finally Seq("sw_mor", "sw_mor_cdf", "sw_mor_cow", "sw_mor_cow_cdf")
      .foreach(CdcCatalog.unregister)
  }

  test("a bucket split between epochs does not kill a running stream: the sink " +
      "re-resolves the live registration and the next epoch commits under the new layout") {
    val store = seedStore() // n=8
    CdcCatalog.register("sw_split", store, keys, n)
    try {
      val sw = new CdcStreamingWrite("graft.sw_split",
        CdcCatalog.StoreDef(store, keys, n), payload, "qsplit") // captured PRE-split
      def staged(epoch: Long, k: Long, name: String) = {
        val w = new CdcStagingWriterFactory(store, "qsplit", payload)
          .createWriter(0, epoch * 10 + 1, epoch)
        w.write(InternalRow(k, UTF8String.fromString(name), 1.0))
        w.commit()
      }
      sw.commit(0L, Array(staged(0L, 1L, "e0"))) // v=1 under n=8
      val vSplit = CdcCatalog.split("sw_split")  // v=2, 8 -> 16 (CAS commit)
      // the next epoch re-pins past the split's CAS commit AND commits
      // under the evolved layout — no nBuckets-mismatch, no restart
      sw.commit(1L, Array(staged(1L, 30L, "e1")))
      assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, vSplit, vSplit + 1))
      val snap = snapshot(store)
      assert(snap.contains((1L, "e0", 1.0)) && snap.contains((30L, "e1", 1.0)),
        s"epochs across the split must both serve: $snap")
      // the post-split epoch's commit recorded the NEW layout
      assert(Cdc.servingState(spark, store)._2.nBuckets === n * 2)
    } finally CdcCatalog.unregister("sw_split")
  }

  test("version-pinned tables refuse streaming writes") {
    implicit val sqlCtx = spark.sqlContext
    val store = seedStore()
    CdcCatalog.register("sw_pinned", store, keys, n, version = Some(0L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_swrite_pc").toString
    try {
      val mem = MemoryStream[(Long, String, Double)]
      val e = intercept[Exception] {
        val q = mem.toDF().toDF("k", "name", "bal")
          .writeStream.option("checkpointLocation", ckpt)
          .toTable("graft.sw_pinned")
        try { mem.addData((1L, "x", 1.0)); q.processAllAvailable() } finally q.stop()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("version-pinned")),
        messages(e).mkString(" | "))
    } finally CdcCatalog.unregister("sw_pinned")
  }
}
