package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Laws for the CDC upsert apply (operators/Cdc.scala):
  *  - equivalence to an in-memory per-key fold of the changelog (the
  *    MERGE semantics ground truth) on randomized logs;
  *  - delete-of-absent-key is a no-op; untouched keys pass through
  *    byte-identical; latest-wins under reordered input partitions;
  *  - IVM consistency: the aggregate of the upserted snapshot equals the
  *    Ivm-maintained view fed the same changes as Z-set deltas — the
  *    "delta-maintained aggregate ≡ recompute over the merged table" law
  *    that ties c38_cdc_apply to c35_ivm_revenue.
  */
class CdcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")

  private def snap(rows: (Long, String, Double)*): DataFrame =
    rows.toDF("k", "name", "bal")

  // changelog rows: (k, name, bal, seq, op)
  private def log(rows: (Long, String, Double, Long, String)*): DataFrame =
    rows.toDF("k", "name", "bal", "seq", "op")

  private def apply0(s: DataFrame, c: DataFrame): Map[Long, (String, Double)] =
    Cdc
      .upsert(s, c, keys, Seq(col("seq")), col("op"))
      .as[(Long, String, Double)]
      .collect()
      .map { case (k, n, b) => k -> (n, b) }
      .toMap

  /** In-memory MERGE ground truth: fold the log in seq order per key. */
  private def reference(
      s: Seq[(Long, String, Double)],
      c: Seq[(Long, String, Double, Long, String)]): Map[Long, (String, Double)] = {
    val byKey = c.groupBy(_._1)
    val touched = byKey.map { case (k, recs) =>
      val last = recs.maxBy(_._4)
      k -> (if (last._5 == "D") None else Some((last._2, last._3)))
    }
    val base = s.map(r => r._1 -> (r._2, r._3)).toMap
    (base.keySet ++ touched.keySet).flatMap { k =>
      touched.get(k) match {
        case Some(None)    => None                  // latest D → gone
        case Some(Some(v)) => Some(k -> v)          // latest I/U → payload
        case None          => base.get(k).map(k -> _)
      }
    }.toMap
  }

  test("upsert equals the per-key fold reference on a randomized changelog") {
    val rnd = new scala.util.Random(42)
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.5))
    val c = (1L to 300L).map { seq =>
      val k  = rnd.nextInt(60).toLong + 1           // keys 1..60: half absent from snapshot
      val op = rnd.nextInt(4) match { case 0 => "D"; case 1 => "I"; case _ => "U" }
      (k, s"chg$seq", rnd.nextInt(1000) / 10.0, seq, op)
    }
    assert(apply0(snap(s: _*), log(c: _*)) === reference(s, c))
  }

  test("changelog missing a snapshot payload column is refused at plan time") {
    val s = snap((1L, "a", 1.0))
    val c = Seq((1L, 2L, "U")).toDF("k", "seq", "op") // no name/bal payload
    val e = intercept[IllegalArgumentException] {
      Cdc.upsert(s, c, keys, Seq(col("seq")), col("op"))
    }
    assert(e.getMessage.contains("name") && e.getMessage.contains("bal"))
  }

  test("delete of an absent key is a no-op; untouched keys pass through") {
    val s   = snap((1L, "a", 1.0), (2L, "b", 2.0))
    val c   = log((9L, "x", 0.0, 1L, "D"))
    val out = apply0(s, c)
    assert(out === Map(1L -> ("a", 1.0), 2L -> ("b", 2.0)))
  }

  test("latest writer wins regardless of input partitioning") {
    val s = snap((1L, "a", 1.0))
    val c = log(
      (1L, "v3", 30.0, 3L, "U"),
      (1L, "v1", 10.0, 1L, "U"),
      (1L, "v2", 20.0, 2L, "U"))
    assert(apply0(s, c.repartition(7)) === Map(1L -> ("v3", 30.0)))
    // ...and a trailing delete erases however many earlier updates
    val c2 = c.unionByName(log((1L, "dead", 0.0, 4L, "D")))
    assert(apply0(s, c2.repartition(5)) === Map.empty)
  }

  test("deletedKeys reports exactly the snapshot keys whose latest record is D") {
    val s = snap((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val c = log(
      (1L, "x", 0.0, 1L, "D"),  // latest D, in snapshot → reported
      (2L, "y", 9.0, 1L, "D"),
      (2L, "z", 8.0, 2L, "U"),  // D superseded by U → not reported
      (9L, "w", 0.0, 1L, "D"))  // D on absent key → not reported
    val got = Cdc
      .deletedKeys(s, c, keys, Seq(col("seq")), col("op"))
      .as[Long].collect().toSet
    assert(got === Set(1L))
  }

  test("incremental apply: folding the changelog in N batches equals one-shot apply") {
    // the lakehouse daily-merge law: MERGE(MERGE(snap, day1), day2) ==
    // MERGE(snap, day1 ∪ day2) — holds because last-writer-wins only
    // depends on each key's latest record, whichever batch carried it
    val rnd = new scala.util.Random(7)
    val s = (1L to 30L).map(k => (k, s"base$k", k * 2.0))
    val c = (1L to 200L).map { seq =>
      val k  = rnd.nextInt(45).toLong + 1
      val op = if (rnd.nextInt(5) == 0) "D" else "U"
      (k, s"c$seq", rnd.nextInt(500) / 10.0, seq, op)
    }
    val oneShot = apply0(snap(s: _*), log(c: _*))
    val batched = c.grouped(50).foldLeft(snap(s: _*)) { (acc, batch) =>
      Cdc.upsert(acc, log(batch: _*), keys, Seq(col("seq")), col("op")).localCheckpoint()
    }
    val gotBatched = batched.as[(Long, String, Double)].collect()
      .map { case (k, n, b) => k -> (n, b) }.toMap
    assert(gotBatched === oneShot)
  }

  // --- partition-scoped store laws -------------------------------------

  private val nBuckets = 8

  private def bucketOf(k: Long): Int =
    Seq(k).toDF("k").select(Cdc.bucketExpr(keys, nBuckets)).as[Int].head()

  /** (path, length, mtime) for every data file under `dir` — the
    * byte-identity fingerprint the untouched-partitions law compares. */
  private def fileState(dir: String): Set[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toSet
      finally s.close()
    }
  }

  private def readPart(store: String): Map[Long, (String, Double)] =
    Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def runBatch(store: String, seed: DataFrame, id: Long,
      rows: (Long, String, Double, Long, String)*): Unit =
    Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, id)

  test("partitioned store: multi-batch maintenance equals one-shot upsert; " +
      "a batch touching one bucket leaves every other bucket byte-identical") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_part").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.5))
    val seed = snap(s: _*)
    val b0 = (1L to 60L by 3).zipWithIndex.map { case (k, i) =>
      (k, s"b0_$k", k * 2.0, 100L + i, if (k % 10 == 0) "D" else "U") }
    runBatch(store, seed, 0L, b0: _*)
    val state0 = fileState(s"$store/parts")

    // batch 1 touches exactly ONE key → exactly one bucket may change
    val b1 = Seq((5L, "b1_5", 55.0, 500L, "U"))
    runBatch(store, seed, 1L, b1: _*)
    val hot    = bucketOf(5L)
    val state1 = fileState(s"$store/parts")
    val untouched0 = state0.filterNot(_._1.contains(s"_bucket=$hot/"))
    assert(untouched0.subsetOf(state1),
      "an untouched bucket's files were rewritten (path/length/mtime changed)")
    assert((state1 -- state0).forall(_._1.contains(s"_bucket=$hot/_writer=1")),
      "batch 1 created files outside its touched bucket")

    // equivalence to the one-shot MERGE over the concatenated changelog
    assert(readPart(store) === reference(s, b0 ++ b1))

    // replay of committed batch 1 (crash between commit points): same
    // parent manifest, same partitions, snapshot unchanged
    runBatch(store, seed, 1L, b1: _*)
    assert(readPart(store) === reference(s, b0 ++ b1))

    // torn manifest (crash mid-manifest-write): a v= dir without _SUCCESS
    // is invisible as a version and as a parent
    val torn = new java.io.File(s"$store/manifest/v=9"); torn.mkdirs()
    new java.io.File(torn, "part-00000.parquet").createNewFile()
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    runBatch(store, seed, 10L, (7L, "g", 70.0, 700L, "U"))
    assert(readPart(store) === reference(s, b0 ++ b1 ++ Seq((7L, "g", 70.0, 700L, "U"))),
      "batch 10 failed to build on the newest COMMITTED manifest")
  }

  test("partitioned store: stale _writer dirs from an earlier run of the same id are purged, not committed") {
    // Fresh checkpoint over a reused store path: an EARLIER run of id=1
    // wrote buckets the current run of id=1 does not touch. Those dirs
    // must not leak into the manifest as live data.
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_stale").toString
    val s = (1L to 20L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L, (1L, "b0", 10.0, 100L, "U"))
    // plant the stale attempt: a real parquet row under a bucket the
    // current batch 1 will NOT write, tagged _writer=1
    val staleKey = (2L to 20L).find(k => bucketOf(k) != bucketOf(1L)).get
    val staleBucket = bucketOf(staleKey)
    Seq((staleKey, "STALE", -1.0)).toDF("k", "name", "bal")
      .write.mode("overwrite")
      .parquet(s"$store/parts/_bucket=$staleBucket/_writer=1")
    // current run of id=1 touches only key 1's bucket
    runBatch(store, seed, 1L, (1L, "b1", 11.0, 200L, "U"))
    val manifest = spark.read.parquet(s"$store/manifest/v=1")
      .select(col("_bucket").cast("int"), col("_writer").cast("long"))
      .as[(Int, Long)].collect().toMap
    assert(manifest.get(staleBucket) !== Some(1L),
      "stale _writer=1 dir was committed into the manifest as live data")
    assert(readPart(store) === reference(s,
      Seq((1L, "b0", 10.0, 100L, "U"), (1L, "b1", 11.0, 200L, "U"))),
      "stale attempt data leaked into the served snapshot")
  }

  test("partitioned store: a replay of a COMMITTED id that crashes mid-rewrite leaves " +
      "the committed version readable (live dirs are never purged up front)") {
    // Crash-window law for the stale-attempt purge: once manifest v=id is
    // committed, its _writer=id dirs are LIVE data — a replay must not
    // delete them before rewriting (a crash between purge and rewrite
    // would leave the newest committed version pointing at missing
    // directories). Simulate the crash with a batch poisoned to throw
    // mid-write; the committed snapshot must survive intact.
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_replaycrash").toString
    val s = (1L to 20L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L, (1L, "b0", 10.0, 100L, "U"))
    runBatch(store, seed, 1L, (1L, "b1", 11.0, 200L, "U")) // v=1 COMMITS
    val served = readPart(store)
    // the "replay" of id=1 crashes during the parts write (raise_error
    // fires on the data path, after the purge decision point)
    val poisoned = log((1L, "b1", 11.0, 200L, "U"))
      .withColumn("name",
        when(col("k") === 1L, raise_error(lit("crash mid-rewrite")).cast("string"))
          .otherwise(col("name")))
    intercept[Exception] {
      Cdc.processPartitionedBatch(poisoned, seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, 1L)
    }
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    assert(readPart(store) === served,
      "crashed replay of a committed id corrupted the committed version")
  }

  test("manifest cache coherence: a store DELETED and REBUILT at the same path " +
      "is served fresh, never from the cache (r22 in-JVM manifest cache)") {
    // The r22 readManifestFull cache keys on the committed dir's _SUCCESS
    // mtime + file census. The in-contract path that puts DIFFERENT
    // content at the same (path, version) coordinate is a full store
    // rebuild at a reused path — exactly what the benchmarked write
    // queries (c38_cdc_merge_sql and friends) do on every run. The fresh
    // commit mints a fresh _SUCCESS, so the token must change and every
    // reader must see the new store.
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_mcache").toString
    val s = (1L to 20L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L, (3L, "gen1", 31.0, 100L, "U")) // v=0, generation 1
    assert(readPart(store) === reference(s, Seq((3L, "gen1", 31.0, 100L, "U"))))
    val before = Cdc.readManifestFull(spark, store, 0L) // cache populated
    assert(before.nonEmpty)
    // wipe and rebuild the store at the SAME path with different content
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    runBatch(store, seed, 0L, (5L, "gen2", 55.0, 200L, "U")) // v=0, generation 2
    val after = Cdc.readManifestFull(spark, store, 0L)
    assert(after !== before, "rebuilt store's manifest served stale from the cache")
    assert(readPart(store) === reference(s, Seq((5L, "gen2", 55.0, 200L, "U"))),
      "snapshot after a same-path rebuild must reflect the NEW store")
  }

  test("partitioned store schema evolution: an added column serves both eras " +
      "without rewriting carried buckets; non-additive changes are refused before any write") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_evo").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L, (1L, "b0", 10.0, 100L, "U"))
    val state0 = fileState(s"$store/parts")

    // batch 1 ADDS `tier` (payloadCols names the widened payload) and
    // touches only key 2's bucket
    val evo = Seq((2L, "b1", 22.0, "gold", 200L, "U"))
      .toDF("k", "name", "bal", "tier", "seq", "op")
    Cdc.processPartitionedBatch(evo, seed, keys, Seq(col("seq")), col("op"),
      store, nBuckets, 1L, payloadCols = Seq("k", "name", "bal", "tier"))

    // carried buckets: files untouched, yet served under the NEW schema
    val hot = bucketOf(2L)
    assert(state0.filterNot(_._1.contains(s"_bucket=$hot/"))
      .subsetOf(fileState(s"$store/parts")), "evolution rewrote carried buckets")
    val served = Cdc.readPartitionedSnapshot(spark, store)
    assert(served.columns.toSeq === Seq("k", "name", "bal", "tier"))
    val byK = served.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), Option(r.getString(3)))).toMap
    assert(byK(2L) === (("b1", 22.0, Some("gold"))))
    assert(byK(1L) === (("b0", 10.0, None)), "pre-evolution row must serve NULL for the new column")
    assert(byK(3L) === (("orig3", 3.0, None)))

    // point lookup across eras serves the widened schema too
    val lk = Cdc.lookupKeys(spark, store, keys, Seq(1L, 2L).toDF("k"), nBuckets).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("tier"))).toMap
    assert(lk === Map(1L -> None, 2L -> Some("gold")))

    // CDF feed across the evolution: pre-image predates the column → NULL
    val u = Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
      .filter(col("k") === 2L).collect()
      .map(r => (r.getAs[String]("_change_type"), Option(r.getAs[String]("tier")))).toSet
    assert(u === Set(("update_preimage", None), ("update_postimage", Some("gold"))))

    // a later batch WITHOUT payloadCols binds to the EVOLVED schema
    val b2 = Seq((3L, "b2", 33.0, "silver", 300L, "U"))
      .toDF("k", "name", "bal", "tier", "seq", "op")
    Cdc.processPartitionedBatch(b2, seed, keys, Seq(col("seq")), col("op"),
      store, nBuckets, 2L)
    assert(Cdc.readPartitionedSnapshot(spark, store)
      .filter(col("k") === 3L).head().getAs[String]("tier") === "silver")

    // type change on a stored column: refused loudly, nothing committed
    val bad = Seq((4L, "x", "NOT_A_NUMBER", "gold", 400L, "U"))
      .toDF("k", "name", "bal", "tier", "seq", "op")
    val e1 = intercept[IllegalArgumentException] {
      Cdc.processPartitionedBatch(bad, seed, keys, Seq(col("seq")), col("op"),
        store, nBuckets, 3L, payloadCols = Seq("k", "name", "bal", "tier"))
    }
    assert(e1.getMessage.contains("type change"))
    // dropping a stored column: refused loudly
    val e2 = intercept[IllegalArgumentException] {
      Cdc.processPartitionedBatch(evo, seed, keys, Seq(col("seq")), col("op"),
        store, nBuckets, 3L, payloadCols = Seq("k", "bal", "tier"))
    }
    assert(e2.getMessage.contains("additive-only"))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, 2L),
      "a refused evolution must not commit a version")
  }

  test("partitioned store: deleting every key of a bucket drops its manifest entry") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_empty").toString
    val s = (1L to 20L).map(k => (k, s"orig$k", k * 1.0))
    runBatch(store, snap(s: _*), 0L, (99L, "noop", 0.0, 1L, "U"))
    val victims = (1L to 20L).filter(bucketOf(_) == bucketOf(1L)) :+ 99L
    val dels = victims.filter(bucketOf(_) == bucketOf(1L)).zipWithIndex
      .map { case (k, i) => (k, "x", 0.0, 10L + i, "D") }
    runBatch(store, snap(s: _*), 1L, dels: _*)
    val expect = reference(s :+ ((99L, "noop", 0.0)), dels)
    assert(readPart(store) === expect)
    val manifest = spark.read.parquet(s"$store/manifest/v=1")
      .select(col("_bucket").cast("int")).as[Int].collect().toSet
    assert(!manifest.contains(bucketOf(1L)), "emptied bucket still in the manifest")
  }

  test("partitioned store: vacuum keeps newest K, reaps only unreferenced committed data") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_vac").toString
    val s = (1L to 30L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val batches = (0L to 3L).map(id =>
      id -> Seq((id * 3 + 1, s"b${id}", id * 10.0, 100L + id, "U")))
    batches.foreach { case (id, rows) => runBatch(store, seed, id, rows: _*) }
    val latest = readPart(store)

    // an in-flight (uncommitted) writer dir must survive vacuum
    val inflight = new java.io.File(s"$store/parts/_bucket=0/_writer=99")
    inflight.mkdirs()
    new java.io.File(inflight, "part-inflight.parquet").createNewFile()

    intercept[IllegalArgumentException](Cdc.vacuum(spark, store, 1))
    Cdc.vacuum(spark, store, 2)
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(2L, 3L))
    assert(readPart(store) === latest, "vacuum changed the served snapshot")
    // the retained older version still serves (replay parent guarantee)
    Cdc.readPartitionedSnapshot(spark, store, Some(2L)).collect()
    assert(inflight.exists(), "vacuum deleted an in-flight writer directory")

    // every surviving committed (bucket, writer) dir is referenced by a
    // kept manifest — nothing unreferenced survived, nothing referenced died
    val kept = Seq(2L, 3L).flatMap(v =>
      spark.read.parquet(s"$store/manifest/v=$v")
        .select(col("_bucket").cast("int"), col("_writer").cast("long"))
        .as[(Int, Long)].collect()).toSet
    val onDisk = for {
      b <- new java.io.File(s"$store/parts").listFiles().toSeq
      if b.getName.startsWith("_bucket=")
      w <- b.listFiles().toSeq if w.getName.startsWith("_writer=")
      wv = w.getName.stripPrefix("_writer=").toLong if wv != 99L
    } yield (b.getName.stripPrefix("_bucket=").toInt, wv)
    assert(onDisk.toSet === kept, "disk state diverged from retained manifests")

    // replay of the newest batch still works after vacuum (parent kept)
    val (lid, lrows) = batches.last
    runBatch(store, seed, lid, lrows: _*)
    assert(readPart(store) === latest)
  }

  test("change feed: classifies I/U/D between versions; round-trips v1 → v2; prunes carried buckets") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_feed").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.5))
    val seed = snap(s: _*)
    val b0 = (1L to 60L by 3).zipWithIndex.map { case (k, i) =>
      (k, s"b0_$k", k * 2.0, 100L + i, if (k % 10 == 0) "D" else "U") }
    runBatch(store, seed, 0L, b0: _*)
    // batch 1: an update, an insert, a delete, and a no-op rewrite (same
    // payload re-asserted — must NOT surface in the feed)
    val noopKey = 2L // untouched by b0 (2 ∉ 1,4,7,…); snapshot payload orig2/3.0
    val b1 = Seq(
      (5L, "b1_5", 55.0, 500L, "U"),
      (200L, "new", 9.0, 501L, "I"),
      (7L, "x", 0.0, 502L, "D"),
      (noopKey, s"orig$noopKey", noopKey * 1.5, 503L, "U"))
    runBatch(store, seed, 1L, b1: _*)

    val feed = Cdc.changesBetween(spark, store, 0L, 1L, keys)
      .as[(Long, String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(feed(5L) === (("b1_5", 55.0, "U")))
    assert(feed(200L) === (("new", 9.0, "I")))
    assert(feed(7L)._3 === "D")
    assert(!feed.contains(noopKey), "payload-identical rewrite leaked into the feed")
    assert(feed.size === 3, s"unexpected feed rows: $feed")

    // round-trip law: upsert the feed into snapshot v0 ⇒ snapshot v1
    val v0 = Cdc.readPartitionedSnapshot(spark, store, Some(0L))
    val v1 = Cdc.readPartitionedSnapshot(spark, store, Some(1L))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val feedDf = Cdc.changesBetween(spark, store, 0L, 1L, keys)
      .withColumn("seq", lit(1L))
    val replayed = Cdc
      .upsert(v0, feedDf, keys, Seq(col("seq")), col("_change_type"))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(replayed === v1, "applying the change feed to v0 did not reproduce v1")

    // pruning law: carried buckets are never opened — the scan's input
    // files all live under the buckets whose manifest entries differ
    val hot = b1.map(_._1).map(bucketOf).toSet
    val planFiles = Cdc.changesBetween(spark, store, 0L, 1L, keys)
      .queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.inputFiles.toSeq
            case _ => Seq.empty
          }
      }.flatten
    assert(planFiles.nonEmpty)
    planFiles.foreach { f =>
      val ok = hot.exists(p => f.contains(s"_bucket=$p/"))
      assert(ok, s"change feed read a carried (unchanged) bucket's file: $f")
    }
  }

  test("CDF-complete feed: updates emit pre+post images; feed-driven IVM view " +
      "equals the recompute at EVERY version (group-moving updates included)") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_cdf").toString
    val s = (1L to 30L).map(k => (k, s"g${k % 3}_orig", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L, (99L, "g0_new", 9.0, 1L, "I"))
    // batch 1 moves key 5 from group g2 to group g0 (the case only
    // pre-images can maintain), deletes key 6, inserts key 100
    runBatch(store, seed, 1L,
      (5L, "g0_moved", 55.0, 10L, "U"),
      (6L, "x", 0.0, 11L, "D"),
      (100L, "g1_new", 17.0, 12L, "I"))
    // batch 2: update key 5 in place, re-insert key 6
    runBatch(store, seed, 2L,
      (5L, "g0_moved2", 56.0, 20L, "U"),
      (6L, "g2_back", 6.5, 21L, "I"))

    // CDF row-shape law on v0 → v1
    val cdf = Cdc.changesBetweenCdf(spark, store, 0L, 1L, keys)
      .select("k", "name", "bal", "_change_type", "_commit_version")
      .as[(Long, String, Double, String, Long)].collect().toSet
    assert(cdf === Set(
      (5L, "g2_orig", 5.0, "update_preimage", 1L),
      (5L, "g0_moved", 55.0, "update_postimage", 1L),
      (6L, "g0_orig", 6.0, "delete", 1L),
      (100L, "g1_new", 17.0, "insert", 1L)), s"CDF shape diverged: $cdf")

    // IVM composition: maintain count/sum-of-bal per name-prefix group
    // off the feed alone; must equal the recompute at every version
    val group = substring(col("name"), 1, 2)
    def stateOf(df: org.apache.spark.sql.DataFrame, op: org.apache.spark.sql.Column) =
      Ivm.aggDelta(df.withColumn("g", group), op, col("bal"), Seq("g"))
    def render(state: org.apache.spark.sql.DataFrame) =
      Ivm.view(state, Seq("g")).as[(String, Long, Double, Double)].collect().toSet
    var state = stateOf(Cdc.readPartitionedSnapshot(spark, store, Some(0L)), lit(1))
    Seq(1L, 2L).foreach { v =>
      val zset = Cdc.cdfToZset(Cdc.changesBetweenCdf(spark, store, v - 1, v, keys))
      state = Ivm.applyDelta(state, stateOf(zset, col("_op")), Seq("g"))
      val recompute = stateOf(Cdc.readPartitionedSnapshot(spark, store, Some(v)), lit(1))
      assert(render(state) === render(recompute),
        s"feed-maintained view diverged from the v=$v recompute")
    }
  }

  test("feed retention: vacuum prunes the feed on the manifest window; " +
      "readFeedSince serves inside it and fails loudly beyond it") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_ret").toString
    val feed  = java.nio.file.Files.createTempDirectory("graft_cdc_retfeed").toString
    val s = (1L to 20L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    (0L to 4L).foreach { id =>
      runBatch(store, seed, id, (id + 1, s"b$id", id * 10.0, 100L + id, "U"))
      if (id > 0)
        Cdc.changesBetweenCdf(spark, store, id - 1, id, keys)
          .write.mode("overwrite").parquet(s"$feed/v=$id")
    }
    Cdc.vacuum(spark, store, keepVersions = 2, feedPath = Some(feed))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(3L, 4L))
    assert(Cdc.feedVersions(spark, feed).sorted === Seq(3L, 4L),
      "vacuum did not prune the feed to the manifest window")
    // inside the window: a consumer at v=2 resumes cleanly with v=3,4
    val caught = Cdc.readFeedSince(spark, feed, 2L)
      .select(col("_commit_version")).distinct().as[Long].collect().toSet
    assert(caught === Set(3L, 4L))
    // at the head: nothing new, empty — not an error
    assert(Cdc.readFeedSince(spark, feed, 4L).count() === 0L)
    // beyond the window: v=2 was pruned — loud failure, never silent
    val e = intercept[IllegalStateException](Cdc.readFeedSince(spark, feed, 1L))
    assert(e.getMessage.contains("retention"), e.getMessage)
  }

  test("composite merge keys: upsert, partitioned store, and lookup on (k1, k2)") {
    // multi-column merge keys are the common real case (tenant + entity);
    // every store surface must key on the tuple, not a single column
    val ck = Seq("k1", "k2")
    val seed = Seq((1L, "a", 10.0), (1L, "b", 11.0), (2L, "a", 20.0))
      .toDF("k1", "k2", "v")
    val chg = Seq(
      (1L, "a", 99.0, 1L, "U"),  // update (1,a) — must NOT touch (1,b)
      (2L, "a", 0.0, 2L, "D"),   // delete (2,a)
      (3L, "c", 30.0, 3L, "I"))  // insert (3,c)
      .toDF("k1", "k2", "v", "seq", "op")
    val expect = Map((1L, "a") -> 99.0, (1L, "b") -> 11.0, (3L, "c") -> 30.0)
    val one = Cdc.upsert(seed, chg, ck, Seq(col("seq")), col("op"))
      .as[(Long, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(one === expect)
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_composite").toString
    Cdc.processPartitionedBatch(chg, seed, ck, Seq(col("seq")), col("op"), store, 8, 0L)
    val served = Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(served === expect)
    val feed = Cdc.changesBetween(spark, store, 0L, 0L, ck) // same version: empty
    assert(feed.count() === 0L)
    val looked = Cdc.lookupKeys(spark, store, ck,
        Seq((1L, "b"), (9L, "z")).toDF("k1", "k2"), 8)
      .as[(Long, String, Double)].collect().toSeq
    assert(looked === Seq((1L, "b", 11.0)))
  }

  test("partitioned store randomized differential: N random batches ≡ the in-memory fold") {
    val rnd = new scala.util.Random(99)
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_rand").toString
    val s = (1L to 30L).map(k => (k, s"base$k", k * 2.0))
    val seed = snap(s: _*)
    var seq = 0L
    var applied = Seq.empty[(Long, String, Double, Long, String)]
    (0L to 5L).foreach { id =>
      val batch = (1 to 1 + rnd.nextInt(12)).map { _ =>
        seq += 1
        val k  = rnd.nextInt(50).toLong + 1
        val op = rnd.nextInt(4) match { case 0 => "D"; case 1 => "I"; case _ => "U" }
        (k, s"r$seq", rnd.nextInt(1000) / 10.0, seq, op)
      }
      applied ++= batch
      runBatch(store, seed, id, batch: _*)
      // the served snapshot matches the fold reference AFTER EVERY batch,
      // and the change feed from the previous version round-trips
      assert(readPart(store) === reference(s, applied),
        s"diverged from the fold reference after batch $id")
    }
    // cross-check: the store's final state equals the monolithic
    // one-shot upsert of the full concatenated changelog
    val oneShot = apply0(seed, log(applied: _*))
    assert(readPart(store) === oneShot)
  }

  test("mixed-strategy randomized differential: random CoW / merge-on-read commits " +
      "interleaved with compaction and vacuum ≡ the in-memory fold at every step") {
    val rnd = new scala.util.Random(1717)
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_rand_mor").toString
    val s = (1L to 30L).map(k => (k, s"base$k", k * 2.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L) // v0: materialize the seed
    var seq = 0L
    var applied = Seq.empty[(Long, String, Double, Long, String)]
    (1 to 8).foreach { step =>
      val batch = (1 to 1 + rnd.nextInt(10)).map { _ =>
        seq += 1
        val k  = rnd.nextInt(45).toLong + 1
        val op = rnd.nextInt(4) match { case 0 => "D"; case 1 => "I"; case _ => "U" }
        (k, s"m$seq", rnd.nextInt(1000) / 10.0, seq, op)
      }
      applied ++= batch
      val id = Cdc.manifestVersions(spark, store).max + 1
      val mor = rnd.nextBoolean()
      Cdc.processPartitionedBatch(log(batch: _*), seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, id,
        casCommit = true, morCommit = mor, morMaxDepth = 2)
      assert(readPart(store) === reference(s, applied),
        s"step $step (mor=$mor) diverged from the fold reference")
      // occasionally compact and vacuum mid-history; neither may change
      // the resolved snapshot
      if (step % 3 == 0) {
        Cdc.compactStore(spark, store, keys, nBuckets)
        assert(readPart(store) === reference(s, applied), s"compaction at step $step")
      }
      if (step % 4 == 0) {
        Cdc.vacuum(spark, store, keepVersions = 2)
        assert(readPart(store) === reference(s, applied), s"vacuum at step $step")
      }
    }
    assert(readPart(store) === apply0(seed, log(applied: _*)))
  }

  test("point lookup serves exactly the requested keys reading only their buckets") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_lookup").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.5))
    runBatch(store, snap(s: _*), 0L, (5L, "b5", 50.0, 100L, "U"), (7L, "x", 0.0, 101L, "D"))
    val want = Seq(5L, 7L, 12L, 999L).toDF("k") // updated, deleted, untouched, absent
    val got = Cdc.lookupKeys(spark, store, keys, want, nBuckets, None)
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(5L -> ("b5", 50.0), 12L -> ("orig12", 18.0)),
      s"lookup diverged from the snapshot slice: $got")
    // files-scanned law: every input file lives in a looked-up key's bucket
    val wantedBuckets = Seq(5L, 7L, 12L, 999L).map(bucketOf).toSet
    val planFiles = Cdc.lookupKeys(spark, store, keys, want, nBuckets, None)
      .queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.inputFiles.toSeq
            case _ => Seq.empty
          }
      }.flatten
    assert(planFiles.nonEmpty)
    planFiles.foreach { f =>
      assert(wantedBuckets.exists(p => f.contains(s"_bucket=$p/")),
        s"lookup scanned a bucket no requested key hashes to: $f")
    }
    // equivalence law vs the full-snapshot filter
    val full = Cdc.readPartitionedSnapshot(spark, store)
      .filter(col("k").isin(5L, 7L, 12L, 999L))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === full)
  }

  test("store entry points refuse an empty store and an uncommitted version " +
      "with the version resolver's messages") {
    val empty = java.nio.file.Files.createTempDirectory("graft_cdc_none").toString
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_resolve").toString
    runBatch(store, snap((1L, "a", 1.0)), 0L)
    val lookup = Seq(1L).toDF("k")
    // each versioned entry point: (store path, version) => call
    val versioned: Seq[(String, (String, Option[Long]) => Any)] = Seq(
      "readPartitionedSnapshot" -> ((p, v) => Cdc.readPartitionedSnapshot(spark, p, v)),
      "lookupKeys" -> ((p, v) => Cdc.lookupKeys(spark, p, keys, lookup, nBuckets, v)),
      "servingState" -> ((p, v) => Cdc.servingState(spark, p, v)))
    val cases: Seq[(String, () => Any, String)] = versioned.flatMap { case (name, call) =>
      Seq((name, () => call(empty, None), "no committed snapshot under"),
        (name, () => call(store, Some(7L)), "version 7 is not committed under"))
    } :+ (("maintainStore",
      () => Cdc.maintainStore(spark, empty, keys, nBuckets, maxDepth = 0),
      "no committed snapshot under"))
    for ((name, call, msg) <- cases) {
      val e = intercept[Exception](call())
      assert(e.getMessage.contains(msg), s"$name refused with: ${e.getMessage}")
    }
  }

  /** Total input records read by the jobs `action` runs (listener-fed,
    * so drain the listener bus before reading). */
  private def recordsReadDuring(action: => Unit): Long = {
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) reads.add(m.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      reads.toArray(Array.empty[java.lang.Long]).map(_.longValue).sum
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("point lookup over a store WITH pending deltas: the key panel pushes BELOW the " +
      "merge-on-read fold (base and delta scans all carry it) and the read costs the " +
      "key slice of the bucket, not the whole dirty bucket") {
    // ONE bucket isolates the sub-bucket claim: bucket pruning can save
    // nothing here, so every byte saved is the new below-the-fold panel
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_morlookup").toString
    val one = 1
    val s = (1L to 2000L).map(k => (k, s"orig$k", k * 1.0))
    Cdc.processPartitionedBatch(log(), snap(s: _*), keys,
      Seq(col("seq")), col("op"), store, one, 0L)
    Cdc.processPartitionedBatch(
      log((5L, "u5", 55.0, 100L, "U"), (30L, "d30", 0.0, 101L, "D"),
        (3000L, "i3000", 3.0, 102L, "U")),
      snap(s: _*), keys, Seq(col("seq")), col("op"), store, one, 1L,
      casCommit = true, morCommit = true)
    assert(Cdc.readManifestFull(spark, store, 1L)(0).deltas.nonEmpty, "fixture not dirty")
    // wanted keys cluster in ONE base file's key range (files are
    // contiguous-range key-sorted), so the pushed panel should prune the
    // other base files entirely
    val want = Seq(5L, 30L, 200L, 3000L, 9999L).toDF("k")
    def lookup() = Cdc.lookupKeys(spark, store, keys, want, one, None)
    // equivalence over the dirty store (updated / deleted / untouched /
    // delta-inserted / absent keys)
    val got = lookup().as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(5L -> ("u5", 55.0), 200L -> ("orig200", 200.0),
      3000L -> ("i3000", 3.0)), s"dirty-store lookup diverged: $got")
    // plan law: EVERY parquet scan below the fold window (base AND delta
    // levels) carries the pushed key panel (descend through AQE stages)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    }.flatten
    val planDf = lookup()
    planDf.collect()
    val scans = allScans(planDf.queryExecution.executedPlan)
    assert(scans.size >= 2, s"expected base + delta scans, got ${scans.size}")
    scans.foreach { f =>
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(k") || pushed.contains("EqualTo(k"),
        s"key panel not pushed below the fold: $pushed")
    }
    // rows-read law: the panel prunes files/row-groups of the key-sorted
    // base, so the point read costs a fraction of folding the whole
    // dirty bucket (which is what a panel-free read must do)
    val withPanel = recordsReadDuring { lookup().collect() }
    val noPanel = recordsReadDuring {
      Cdc.readPartitionedSnapshot(spark, store).collect()
    }
    assert(withPanel * 2 < noPanel,
      s"point lookup read $withPanel records vs $noPanel for the full dirty fold — " +
        "the key panel is not reaching the scans")
  }

  test("IVM consistency: delta-maintained sum equals recompute over the upserted snapshot") {
    val s = snap((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    val c = log(
      (2L, "b2", 25.0, 1L, "U"),   // update: retract 20, insert 25
      (3L, "c!", 0.0, 2L, "D"),    // delete: retract 30
      (4L, "d", 40.0, 3L, "I"),    // insert new key
      (4L, "d2", 44.0, 4L, "U"))   // then update it again
    val upserted = Cdc.upsert(s, c, keys, Seq(col("seq")), col("op"))
    val recompute = upserted
      .agg(sum(col("bal").cast("decimal(28,4)")).as("t"), count(lit(1)).as("n"))
      .as[(java.math.BigDecimal, Long)].head()

    // Z-set derivation of the SAME changes: +1 per initial snapshot row,
    // then per touched key retract the prior surviving value (snapshot or
    // superseded change) and insert the new one. Deriving it per change
    // record (not per final key) exercises Ivm's associativity too.
    val g = lit("all")
    val base = Ivm.aggDelta(s.withColumn("g", g), lit(1L), col("bal"), Seq("g"))
    val ordered = c.as[(Long, String, Double, Long, String)].collect().sortBy(_._4)
    var prior = s.as[(Long, String, Double)].collect().map(r => r._1 -> r._3).toMap
    val zrows = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    ordered.foreach { case (k, _, bal, _, op) =>
      prior.get(k).foreach(v => zrows += ((v, -1L)))
      if (op == "D") prior -= k
      else { zrows += ((bal, 1L)); prior += (k -> bal) }
    }
    val delta = Ivm.aggDelta(
      zrows.toSeq.toDF("bal", "w").withColumn("g", g), col("w"), col("bal"), Seq("g"))
    val st = Ivm.applyDelta(base, delta, Seq("g"))
      .as[(String, Long, java.math.BigDecimal)].head()
    assert(st._2 === recompute._2, "IVM count diverged from recompute")
    assert(st._3.compareTo(recompute._1) === 0, "IVM sum diverged from recompute")
  }

  private def casBatch(store: String, seed: DataFrame, id: Long,
      rows: (Long, String, Double, Long, String)*): Unit =
    Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, id, casCommit = true)

  test("CAS batch commits: two writers minting the same version — exactly one wins, " +
      "the loser throws retryable, the store serves the winner and stays clean") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_cas").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L) // v0 = seed materialization (streaming path)
    val base = readPart(store)

    // INTERLEAVED: writer A resolves next=1 and commits; writer B also
    // resolved next=1 (before A landed) and now tries to commit the same
    // version — B must LOSE LOUDLY, never merge into A's commit
    casBatch(store, seed, 1L, (5L, "A5", 55.0, 100L, "U"))
    val afterA = readPart(store)
    assert(afterA === base + (5L -> ("A5", 55.0)))
    val thrown = intercept[ConcurrentCdcWriteException] {
      casBatch(store, seed, 1L, (5L, "B5", 99.0, 101L, "U"), (7L, "B7", 77.0, 102L, "U"))
    }
    assert(thrown.getMessage.contains("v=1"))
    // the loser changed NOTHING: same versions, same snapshot
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    assert(readPart(store) === afterA)
    // ...and cleaned up after itself: no staging dir, no orphan parts
    // beyond the committed writers'
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/manifest"))
      .exists(_.getPath.getName.startsWith("_attempt")), "loser staging dir leaked")
    val committedWriters = (0L to 1L).flatMap(v =>
      Cdc.readManifestFull(spark, store, v).values.flatMap(_.writers)).toSet
    val orphanWriters = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/parts"))
      .filter(_.getPath.getName.startsWith("_bucket="))
      .flatMap(b => fs.listStatus(b.getPath))
      .map(_.getPath.getName.stripPrefix("_writer=").toLong)
      .toSet -- committedWriters
    assert(orphanWriters.isEmpty, s"loser parts dirs leaked: $orphanWriters")
    // the RETRY (re-read latest, mint next) lands on top of the winner
    casBatch(store, seed, Cdc.manifestVersions(spark, store).max + 1,
      (5L, "B5", 99.0, 101L, "U"), (7L, "B7", 77.0, 102L, "U"))
    assert(readPart(store) === afterA + (5L -> ("B5", 99.0)) + (7L -> ("B7", 77.0)))
  }

  test("CAS batch commits: a true concurrent race (two threads, same version) yields " +
      "exactly one winner; the snapshot equals seed + the winner's batch") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_race").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    val base = readPart(store)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
    def writer(tag: String, row: (Long, String, Double, Long, String)): Thread = {
      val t = new Thread(() => {
        gate.await()
        outcomes.put(tag,
          try { casBatch(store, seed, 1L, row); None }
          catch { case e: Throwable => Some(e) })
      })
      t.start(); t
    }
    val a = writer("a", (3L, "racerA", 30.0, 100L, "U"))
    val b = writer("b", (3L, "racerB", 31.0, 100L, "U"))
    a.join(300000); b.join(300000)
    val errs = Seq("a", "b").map(outcomes.get)
    assert(errs.count(_.isEmpty) === 1,
      s"expected exactly one winner, got: $errs")
    assert(errs.flatten.forall(_.isInstanceOf[ConcurrentCdcWriteException]),
      s"loser must throw the retryable conflict, got: ${errs.flatten}")
    val winner = if (outcomes.get("a").isEmpty) "racerA" -> 30.0 else "racerB" -> 31.0
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    assert(readPart(store) === base + (3L -> winner))
  }

  test("column mapping RENAME: metadata-only commit — zero files rewritten, old files " +
      "decode under the new name, time travel serves each version's own names, and " +
      "maintenance continues through the rename") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_ren").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    runBatch(store, seed, 1L, (5L, "v1", 55.0, 100L, "U"))
    val before = fileState(s"$store/parts")
    val preSnap = readPart(store)

    val v2 = Cdc.renameColumn(spark, store, "name", "full_name")
    assert(v2 === 2L)
    // METADATA-ONLY: not one parts file changed
    assert(fileState(s"$store/parts") === before, "rename rewrote data files")
    // the snapshot serves the SAME values under the NEW name
    val post = Cdc.readPartitionedSnapshot(spark, store)
    assert(post.columns.toSeq === Seq("k", "full_name", "bal"))
    assert(post.as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap === preSnap)
    // time travel: v1 still serves its own (old) column names
    assert(Cdc.readPartitionedSnapshot(spark, store, Some(1L)).columns.toSeq ===
      Seq("k", "name", "bal"))
    // maintenance continues under the new logical name: carried buckets
    // (old physical spelling) and the new batch merge correctly
    Cdc.processPartitionedBatch(
      Seq((7L, "renamed7", 77.0, 300L, "U")).toDF("k", "full_name", "bal", "seq", "op"),
      seed.toDF("k", "full_name", "bal"), keys, Seq(col("seq")), col("op"),
      store, nBuckets, 3L)
    val after = Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(after === preSnap + (7L -> ("renamed7", 77.0)))
    // change feed across the versions AFTER the rename speaks the new name
    val chg = Cdc.changesBetween(spark, store, 2L, 3L, keys)
    assert(chg.columns.contains("full_name"))
    assert(chg.count() === 1L)
    // point lookup through the mapping
    val hit = Cdc.lookupKeys(spark, store, keys, Seq(Tuple1(7L)).toDF("k"), nBuckets)
    assert(hit.select("full_name").as[String].collect().toSeq === Seq("renamed7"))
  }

  test("column mapping DROP: the column disappears without a rewrite, and a re-added " +
      "column of the same name NEVER resurrects the dropped data") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_drop").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    val before = fileState(s"$store/parts")
    val v1 = Cdc.dropColumn(spark, store, "bal", keys)
    assert(v1 === 1L)
    assert(fileState(s"$store/parts") === before, "drop rewrote data files")
    val dropped = Cdc.readPartitionedSnapshot(spark, store)
    assert(dropped.columns.toSeq === Seq("k", "name"), "dropped column still visible")
    // re-add `bal` (same logical name) via additive evolution, touching
    // ONE bucket — the fresh physical name means carried buckets serve
    // NULL, never the old values
    Cdc.processPartitionedBatch(
      Seq((5L, "withbal", 999.0, 100L, "U")).toDF("k", "name", "bal", "seq", "op"),
      seed.select("k", "name").withColumn("bal", lit(null).cast("double")),
      keys, Seq(col("seq")), col("op"), store, nBuckets, 2L,
      payloadCols = Seq("k", "name", "bal"))
    val re = Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, String, Option[Double])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(re(5L) === ("withbal", Some(999.0)))
    val resurrected = re.filter { case (k, (_, b)) => k != 5L && b.isDefined }
    assert(resurrected.isEmpty, s"dropped data resurrected: $resurrected")
    // ...even for rows in the bucket the re-add batch rewrote
    (1L to 40L).filter(k => k != 5L && bucketOf(k) == bucketOf(5L)).foreach { k =>
      assert(re(k)._2.isEmpty, s"key $k in the rewritten bucket resurrected bal")
    }
    // the old physical data is still IN the old files (no rewrite), just
    // unreachable: the fresh physical name proves the isolation
    val meta = Cdc.storedMeta(spark, store, 2L)
    assert(meta.phys("bal") !== "bal", "re-added column must mint a fresh physical name")
    assert(meta.retired.contains("bal"))
    // refusals: merge keys and the last column stay
    intercept[IllegalArgumentException](Cdc.dropColumn(spark, store, "k", keys))
  }

  test("describeHistory: one audit row per committed version — rows equal the served " +
      "snapshot, touched buckets equal the manifest diff, commit times are monotonic") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_hist").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)                                   // v0: full seed
    runBatch(store, seed, 1L, (5L, "one", 55.0, 100L, "U"))     // v1: ONE key
    runBatch(store, seed, 2L,                                    // v2: delete two
      (7L, "", 0.0, 200L, "D"), (9L, "", 0.0, 201L, "D"))
    val h = Cdc.describeHistory(spark, store)
      .as[(Long, Long, Int, Int, Option[Long], Int)].collect().sortBy(_._1)
    assert(h.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(h.forall(_._6 === 0), "a pure copy-on-write history reports 0 delta buckets")
    // rows audit: the metadata line equals the truly served cardinality
    h.foreach { case (v, _, _, _, rows, _) =>
      assert(rows.contains(
        Cdc.readPartitionedSnapshot(spark, store, Some(v)).count()), s"rows of v=$v")
    }
    // write amplification: v0 touched everything it wrote; v1 exactly the
    // one bucket its single key hashes to; v2 the delete keys' buckets
    assert(h(0)._4 === h(0)._3, "v0 must touch every non-empty bucket")
    assert(h(1)._4 === 1, s"v1 touched ${h(1)._4} buckets, expected 1")
    assert(h(2)._4 === Set(bucketOf(7L), bucketOf(9L)).size)
    // commit wall-clock: the marker mtimes are non-decreasing in version
    assert(h.map(_._2).toSeq === h.map(_._2).toSeq.sorted, "commit times not monotonic")
  }

  test("history checkpoint: ckpt + tail serves $history byte-identical to the full " +
      "fold at every version; vacuum filtering and auto-cadence unchanged") {
    def hist(store: String): Seq[(Long, Int, Int, Option[Long], Int)] =
      Cdc.describeHistory(spark, store)
        .as[(Long, Long, Int, Int, Option[Long], Int)].collect().sortBy(_._1).toSeq
        // drop commit wall-clock (column 2): the twin store below commits
        // at different times by construction
        .map(r => (r._1, r._3, r._4, r._5, r._6))
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString
    val twin  = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_twin").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    def build(st: String): Unit = {
      runBatch(st, seed, 0L)
      runBatch(st, seed, 1L, (5L, "one", 55.0, 100L, "U"))
      morBatch(st, seed, 2L, (6L, "mor", 66.0, 200L, "U")) // a delta'd version
      runBatch(st, seed, 3L, (7L, "", 0.0, 300L, "D"))
    }
    build(store); build(twin)
    val full = hist(store)
    assert(full === hist(twin), "twin stores must report identical history")
    // checkpoint at v3: rows must not move by a bit (the twin never
    // checkpoints — it is the full-fold ground truth from here on)
    assert(Cdc.checkpointHistory(spark, store) === Some(3L))
    assert(hist(store) === full, "checkpointed history drifted from the fold")
    // grow a tail past the checkpoint: head rows come from the ckpt, the
    // tail folds fine-grained manifests diffed against the ckpt BOUNDARY
    def grow(st: String): Unit = {
      runBatch(st, seed, 4L, (8L, "four", 88.0, 400L, "U"))
      morBatch(st, seed, 5L, (9L, "five", 99.0, 500L, "U"))
    }
    grow(store); grow(twin)
    assert(hist(store) === hist(twin), "ckpt+tail drifted from the full fold")
    // re-checkpoint: the superseded ckpt is pruned (one live checkpoint)
    assert(Cdc.checkpointHistory(spark, store) === Some(5L))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/manifest/_ckpt"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).toSeq
    assert(ckpts === Seq("v=5"), s"superseded checkpoints leaked: $ckpts")
    assert(hist(store) === hist(twin))
    // vacuum: history reports RETAINED versions only — ckpt rows for the
    // vacuumed prefix are filtered out, exactly the pre-ckpt semantics
    Cdc.vacuum(spark, store, keepVersions = 2)
    assert(hist(store) === hist(twin).filter(r => r._1 >= 4L))
    // auto-cadence: with the interval conf set, the commit path itself
    // rolls the checkpoint when the minted version crosses the cadence
    val auto = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_auto").toString
    spark.conf.set("graft.cdc.historyCheckpointInterval", "2")
    try {
      runBatch(auto, seed, 0L)
      runBatch(auto, seed, 1L, (5L, "a", 1.0, 100L, "U"))
      runBatch(auto, seed, 2L, (6L, "b", 2.0, 200L, "U"))
    } finally spark.conf.unset("graft.cdc.historyCheckpointInterval")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$auto/manifest/_ckpt/v=2/_COMMITTED")),
      "commit at the cadence boundary did not auto-checkpoint")
    // post-auto-ckpt the history still audits true: every row's recorded
    // count equals the truly served cardinality at that version
    val autoRows = hist(auto)
    assert(autoRows.map(_._1) === Seq(0L, 1L, 2L))
    autoRows.foreach { case (v, _, _, rows, _) =>
      assert(rows.contains(
        Cdc.readPartitionedSnapshot(spark, auto, Some(v)).count()), s"rows of v=$v")
    }
    // STALE-BOUNDARY case: checkpoint at v1, commit past it, vacuum PAST
    // the checkpoint — the oldest retained version must diff all-touched
    // (the un-checkpointed convention), never against the v1 boundary,
    // which would misattribute every change since the checkpoint to it
    val st = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_stale").toString
    val tw = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_stale_twin").toString
    def build2(p: String, ckptAtV1: Boolean): Unit = {
      runBatch(p, seed, 0L)
      runBatch(p, seed, 1L, (5L, "one", 55.0, 100L, "U"))
      if (ckptAtV1) assert(Cdc.checkpointHistory(spark, p) === Some(1L))
      runBatch(p, seed, 2L, (6L, "two", 66.0, 200L, "U"))
      runBatch(p, seed, 3L, (7L, "three", 77.0, 300L, "U"))
      runBatch(p, seed, 4L, (8L, "four", 88.0, 400L, "U"))
      Cdc.vacuum(spark, p, keepVersions = 2) // retains {3,4}: gap past the ckpt
    }
    build2(st, ckptAtV1 = true); build2(tw, ckptAtV1 = false)
    assert(hist(st) === hist(tw),
      "post-vacuum history diffed against a stale checkpoint boundary")
  }

  test("CAS commits survive vacuum (token dirs reaped with their manifests) and serve " +
      "their schema from the committed manifest when the sidecar is lost") {
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_cas_vac").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    casBatch(store, seed, 1L, (5L, "v1", 51.0, 100L, "U"))
    casBatch(store, seed, 2L, (5L, "v2", 52.0, 200L, "U"))
    casBatch(store, seed, 3L, (6L, "v3", 63.0, 300L, "U"))
    val v1Writer = Cdc.readManifestFull(spark, store, 1L)(bucketOf(5L)).base.get
    assert(v1Writer >= (1L << 62), "CAS writers must use token ids")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // vacuum keep=2: v0/v1 manifests age out; v1's token dir for the hot
    // bucket (superseded by v2's rewrite) must be REAPED, not leak forever
    Cdc.vacuum(spark, store, keepVersions = 2)
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(2L, 3L))
    val hotDir = new org.apache.hadoop.fs.Path(
      s"$store/parts/_bucket=${bucketOf(5L)}/_writer=$v1Writer")
    assert(!fs.exists(hotDir), "superseded CAS token dir leaked past vacuum")
    assert(readPart(store)(5L) === ("v2", 52.0))
    assert(readPart(store)(6L) === ("v3", 63.0))
  }

  test("every commit path records its metadata inside the manifest dir it renames: " +
      "no schema/ sidecar, keys and bucket count recorded, _cas marks exactly the CAS commits") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_meta_home").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)                                        // v0 non-CAS seed
    Cdc.processPartitionedBatch(log((5L, "e1", 5.5, 100L, "U")), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, 1L, morCommit = true) // v1 non-CAS MoR
    casBatch(store, seed, 2L, (6L, "c2", 6.5, 200L, "U"))           // v2 CAS CoW
    morBatch(store, seed, 3L, (7L, "m3", 7.5, 300L, "U"))           // v3 CAS MoR
    assert(Cdc.compactStore(spark, store, keys, nBuckets) === Some(4L))
    assert(Cdc.renameColumn(spark, store, "name", "title") === 5L)
    assert(Cdc.addColumn(spark, store, "tier", IntegerType) === 6L)
    assert(Cdc.widenColumn(spark, store, "tier", LongType) === 7L)
    assert(Cdc.dropColumn(spark, store, "tier", keys) === 8L)
    assert(Cdc.splitBuckets(spark, store) === 9L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/schema")),
      "a schema/ sidecar dir was written")
    val versions = Cdc.manifestVersions(spark, store).sorted
    assert(versions === (0L to 9L))
    versions.foreach { v =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/manifest/v=$v/_schema.ddl")),
        s"v=$v has no _schema.ddl in its manifest dir")
      val meta = Cdc.storedMeta(spark, store, v)
      assert(meta.keys === keys, s"v=$v recorded keys ${meta.keys}")
      assert(meta.nBuckets === (if (v == 9L) nBuckets * 2 else nBuckets),
        s"v=$v recorded bucket count ${meta.nBuckets}")
      assert(Cdc.isCasCommit(spark, store, v) === (v >= 2L), s"v=$v provenance")
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/manifest/v=5/_schema.ddl"), false)
    val e = intercept[IllegalStateException](Cdc.servingState(spark, store, Some(5L)))
    assert(e.getMessage.contains(s"$store/manifest/v=5/_schema.ddl"), e.getMessage)
  }

  // ---- merge-on-read (delta commits) -----------------------------------

  private def morBatch(store: String, seed: DataFrame, id: Long,
      rows: (Long, String, Double, Long, String)*): Long =
    Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, id,
      casCommit = true, morCommit = true)

  test("merge-on-read ≡ copy-on-write at EVERY version; a delta commit writes only " +
      "delta files (base files byte-identical, O(delta) write IO) and the feed matches") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val b1 = Seq((5L, "u5", 55.0, 100L, "U"), (10L, "d10", 0.0, 101L, "D"),
      (77L, "i77", 7.7, 102L, "U")) // update, delete, insert-new-key
    val b2 = Seq((5L, "u5b", 56.0, 200L, "U"), (77L, "d77", 0.0, 201L, "D"),
      (99L, "d99", 0.0, 202L, "D")) // re-update, delete-the-insert, delete-absent (no-op)
    val cow = java.nio.file.Files.createTempDirectory("graft_mor_cow").toString
    runBatch(cow, seed, 0L)
    casBatch(cow, seed, 1L, b1: _*)
    casBatch(cow, seed, 2L, b2: _*)
    val mor = java.nio.file.Files.createTempDirectory("graft_mor_mor").toString
    runBatch(mor, seed, 0L)
    val baseState = fileState(s"$mor/parts")
    assert(morBatch(mor, seed, 1L, b1: _*) === 1L)
    // O(delta) WRITE: not one base file changed; every new file lives in
    // a token _writer dir of a touched bucket
    val afterDelta = fileState(s"$mor/parts")
    assert(baseState.subsetOf(afterDelta), "a delta commit rewrote base files")
    val newFiles = afterDelta -- baseState
    assert(newFiles.nonEmpty)
    val touched = b1.map(r => bucketOf(r._1)).toSet
    assert(newFiles.forall(f => touched.exists(p => f._1.startsWith(s"_bucket=$p/"))),
      s"delta files landed outside the touched buckets: ${newFiles.map(_._1)}")
    assert(morBatch(mor, seed, 2L, b2: _*) === 2L)
    // manifest shape: touched buckets carry the parent base + delta list
    val m1 = Cdc.readManifestFull(spark, mor, 1L)
    val m0 = Cdc.readManifestFull(spark, mor, 0L)
    touched.foreach { p =>
      assert(m1(p).base === m0.get(p).flatMap(_.base), s"bucket $p base changed")
      assert(m1(p).deltas.length === 1, s"bucket $p delta list wrong")
      assert(m1(p).rows.isEmpty, s"bucket $p must not claim a resolved row count")
    }
    // MoR ≡ CoW at every version (snapshot AND change feed)
    for (v <- 0L to 2L) {
      val a = Cdc.readPartitionedSnapshot(spark, cow, Some(v))
        .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
      val b = Cdc.readPartitionedSnapshot(spark, mor, Some(v))
        .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
      assert(a === b, s"MoR snapshot diverged from CoW at v=$v")
    }
    for ((f, t) <- Seq((0L, 1L), (1L, 2L), (0L, 2L))) {
      val a = Cdc.changesBetween(spark, cow, f, t, keys)
        .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq
      val b = Cdc.changesBetween(spark, mor, f, t, keys)
        .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq
      assert(a === b, s"MoR change feed diverged from CoW for $f->$t")
    }
    // the reference fold agrees end-to-end
    assert(readPart(mor) === reference(s, b1 ++ b2))
    // a later CoW batch over the delta'd parent folds it first
    casBatch(mor, seed, 3L, (5L, "cow5", 57.0, 300L, "U"))
    assert(readPart(mor) === reference(s, b1 ++ b2 ++ Seq((5L, "cow5", 57.0, 300L, "U"))))
    assert(Cdc.readManifestFull(spark, mor, 3L)(bucketOf(5L)).deltas.isEmpty,
      "the CoW rewrite must clear the bucket's delta list")
  }

  private def morStreamBatch(store: String, seed: DataFrame, id: Long,
      rows: (Long, String, Double, Long, String)*): Long =
    Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, id,
      morCommit = true, morMaxDepth = 2)

  test("STREAMING merge-on-read: non-CAS delta epochs ≡ CoW streaming at every version " +
      "and ≡ batch MoR end-state; a replayed epoch is idempotent (delta list not " +
      "doubled); write IO is O(epoch delta); fold depth auto-bounded by morMaxDepth") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val e1 = Seq((5L, "u5", 55.0, 100L, "U"), (10L, "d10", 0.0, 101L, "D"),
      (77L, "i77", 7.7, 102L, "U"))
    val e2 = Seq((5L, "u5b", 56.0, 200L, "U"), (77L, "d77", 0.0, 201L, "D"))
    // three twins fed the same changes: CoW stream, MoR stream, batch MoR
    val cow = java.nio.file.Files.createTempDirectory("graft_smor_cow").toString
    runBatch(cow, seed, 0L); runBatch(cow, seed, 1L, e1: _*); runBatch(cow, seed, 2L, e2: _*)
    val bat = java.nio.file.Files.createTempDirectory("graft_smor_bat").toString
    runBatch(bat, seed, 0L); morBatch(bat, seed, 1L, e1: _*); morBatch(bat, seed, 2L, e2: _*)
    val mor = java.nio.file.Files.createTempDirectory("graft_smor_mor").toString
    runBatch(mor, seed, 0L) // first epoch materializes the seed (CoW)
    val baseState = fileState(s"$mor/parts")
    assert(morStreamBatch(mor, seed, 1L, e1: _*) === 1L)
    // O(epoch delta) write: not one base file touched; the delta writer id
    // IS the version id (the stream's deterministic replay identity)
    assert(baseState.subsetOf(fileState(s"$mor/parts")),
      "a streaming delta epoch rewrote base files")
    val m1 = Cdc.readManifestFull(spark, mor, 1L)
    e1.map(r => bucketOf(r._1)).toSet.foreach { p: Int =>
      assert(m1(p).deltas === Seq(1L), s"bucket $p should carry delta writer 1")
    }
    assert(morStreamBatch(mor, seed, 2L, e2: _*) === 2L)
    // ≡ CoW at every version (snapshot and feed), ≡ batch MoR end-state
    for (v <- 0L to 2L)
      assert(Cdc.readPartitionedSnapshot(spark, mor, Some(v))
          .as[(Long, String, Double)].collect().sortBy(_._1).toSeq ===
        Cdc.readPartitionedSnapshot(spark, cow, Some(v))
          .as[(Long, String, Double)].collect().sortBy(_._1).toSeq,
        s"MoR stream diverged from CoW stream at v=$v")
    for ((f, t) <- Seq((0L, 1L), (1L, 2L), (0L, 2L)))
      assert(Cdc.changesBetween(spark, mor, f, t, keys)
          .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq ===
        Cdc.changesBetween(spark, cow, f, t, keys)
          .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq,
        s"MoR stream feed diverged from CoW for $f->$t")
    assert(readPart(mor) === readPart(bat), "MoR stream end-state diverged from batch MoR")
    // REPLAY of the newest epoch: same version line, same content, and the
    // touched buckets' delta lists are NOT doubled (the manifest rebuilds
    // from the parent, never appends to its own previous commit)
    val before = readPart(mor)
    assert(morStreamBatch(mor, seed, 2L, e2: _*) === 2L)
    assert(Cdc.manifestVersions(spark, mor).sorted === Seq(0L, 1L, 2L))
    assert(readPart(mor) === before)
    val m2 = Cdc.readManifestFull(spark, mor, 2L)
    assert(m2(bucketOf(5L)).deltas === Seq(1L, 2L),
      s"replay doubled the delta list: ${m2(bucketOf(5L)).deltas}")
    // DEPTH BOUND: epochs 3..6 hammer key 5; morMaxDepth=2 forces the hot
    // bucket to fold inline, so no manifest ever records depth > 2
    (3L to 6L).foreach(v => morStreamBatch(mor, seed, v, (5L, s"v$v", v * 1.0, v * 100, "U")))
    (3L to 6L).foreach { v =>
      val depth = Cdc.readManifestFull(spark, mor, v)(bucketOf(5L)).deltas.length
      assert(depth <= 2, s"v=$v fold depth $depth exceeds morMaxDepth")
    }
    assert(readPart(mor)(5L) === ("v6", 6.0))
    // an empty epoch still mints its version (carry-everything manifest)
    assert(morStreamBatch(mor, seed, 7L) === 7L)
    assert(readPart(mor)(5L) === ("v6", 6.0))
    // mixed-mode guard holds for MoR epochs too: a CAS (batch-DML) commit
    // occupying the replayed slot refuses loudly, never overwrites
    casBatch(mor, seed, 8L, (6L, "dml", 66.0, 800L, "U"))
    val e = intercept[IllegalStateException] {
      morStreamBatch(mor, seed, 8L, (7L, "late", 77.0, 801L, "U"))
    }
    assert(e.getMessage.contains("CAS"), e.getMessage)
  }

  test("compactStore folds deltas into a fresh base: snapshot identical, feed across " +
      "the boundary empty, row counts return, vacuum reaps superseded delta dirs, " +
      "and a clean store compacts to None") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val store = java.nio.file.Files.createTempDirectory("graft_mor_compact").toString
    runBatch(store, seed, 0L)
    morBatch(store, seed, 1L, (5L, "u5", 55.0, 100L, "U"), (10L, "d10", 0.0, 101L, "D"))
    morBatch(store, seed, 2L, (5L, "u5b", 56.0, 200L, "U"), (77L, "i77", 7.7, 201L, "U"))
    val before = readPart(store)
    val deltaDirs = Cdc.readManifestFull(spark, store, 2L).toSeq
      .flatMap { case (p, e) => e.deltas.map(w => s"$store/parts/_bucket=$p/_writer=$w") }
    assert(deltaDirs.nonEmpty)
    val v3 = Cdc.compactStore(spark, store, keys, nBuckets)
    assert(v3 === Some(3L))
    assert(readPart(store) === before, "compaction changed the resolved snapshot")
    val m3 = Cdc.readManifestFull(spark, store, 3L)
    assert(m3.values.forall(_.deltas.isEmpty), "compaction left pending deltas")
    assert(m3.values.forall(e => e.rows.isDefined),
      "compaction must restore recorded row counts")
    assert(Cdc.changesBetween(spark, store, 2L, 3L, keys).count() === 0L,
      "compaction is logically a no-op — the feed across it must be empty")
    // time travel still folds the pre-compaction versions
    assert(Cdc.readPartitionedSnapshot(spark, store, Some(2L))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap === before)
    // nothing left to compact
    assert(Cdc.compactStore(spark, store, keys, nBuckets) === None)
    // a retained delta'd version (v2) keeps its delta dirs — time travel
    // to it still folds; only once v2 AGES OUT may the dirs reap
    Cdc.vacuum(spark, store, keepVersions = 2) // keeps {2,3}: dirs must stay
    val fsPre = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    deltaDirs.foreach(d => assert(fsPre.exists(new org.apache.hadoop.fs.Path(d)),
      s"vacuum reaped a delta dir a retained version still references: $d"))
    casBatch(store, seed, 4L, (6L, "v4", 64.0, 400L, "U"))
    Cdc.vacuum(spark, store, keepVersions = 2) // keeps {3,4}: v2 ages out
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    deltaDirs.foreach(d => assert(!fs.exists(new org.apache.hadoop.fs.Path(d)),
      s"superseded delta dir leaked past vacuum: $d"))
    assert(readPart(store) === before + (6L -> ("v4", 64.0)))
  }

  test("planMaintenance → maintainStore closes the health loop: only over-threshold " +
      "buckets rewrite, healthy buckets keep their exact files, snapshot and feed " +
      "are unchanged, and a within-threshold store is a no-op") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val store = java.nio.file.Files.createTempDirectory("graft_maint").toString
    runBatch(store, seed, 0L)
    // three delta epochs with UNEVEN touch sets → uneven per-bucket depth
    morBatch(store, seed, 1L, (5L, "u5", 55.0, 100L, "U"), (10L, "u10", 10.1, 101L, "U"),
      (15L, "u15", 15.1, 102L, "U"), (20L, "u20", 20.1, 103L, "U"))
    morBatch(store, seed, 2L, (5L, "u5b", 56.0, 200L, "U"))
    morBatch(store, seed, 3L, (5L, "u5c", 57.0, 300L, "U"))
    val before = readPart(store)
    val mPre = Cdc.readManifestFull(spark, store, 3L)
    val deep    = mPre.collect { case (p, e) if e.deltas.length > 1 => p }.toSet
    val shallow = mPre.collect { case (p, e) if e.deltas.length == 1 => p }.toSet
    assert(deep.nonEmpty && shallow.nonEmpty,
      s"fixture needs both depths, got ${mPre.map { case (p, e) => p -> e.deltas.length }}")
    // the plan is exactly the manifest's over-threshold set ($partitions'
    // dirty-set semantics at depth > 1)
    assert(Cdc.planMaintenance(spark, store, maxDepth = 1) === deep)

    // file-level signature of every bucket the plan must NOT touch
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirSig(bucket: Int, writer: Long): Seq[(String, Long, Long)] = {
      val d = new org.apache.hadoop.fs.Path(s"$store/parts/_bucket=$bucket/_writer=$writer")
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toIndexedSeq
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .sortBy(_._1)
    }
    val healthySigs = shallow.toSeq.sorted.map { p =>
      p -> mPre(p).writers.map(w => w -> dirSig(p, w))
    }

    assert(Cdc.maintainStore(spark, store, keys, nBuckets, maxDepth = 1) === Some(4L))
    val m4 = Cdc.readManifestFull(spark, store, 4L)
    assert(m4.values.forall(_.deltas.length <= 1),
      "maintenance left a bucket over threshold")
    deep.foreach { p =>
      assert(m4(p).deltas.isEmpty && m4(p).rows.isDefined,
        s"planned bucket $p was not fully compacted: ${m4(p)}")
    }
    // healthy buckets: same manifest entry, same physical files, byte count
    // and mtime untouched
    shallow.foreach { p =>
      assert(m4(p).base === mPre(p).base && m4(p).deltas === mPre(p).deltas,
        s"unplanned bucket $p was rewritten: ${mPre(p)} -> ${m4(p)}")
    }
    healthySigs.foreach { case (p, sigs) =>
      sigs.foreach { case (w, sig) =>
        assert(dirSig(p, w) === sig, s"unplanned bucket $p writer $w files changed")
      }
    }
    // maintenance is layout, never semantics
    assert(readPart(store) === before, "maintenance changed the served snapshot")
    assert(Cdc.changesBetween(spark, store, 3L, 4L, keys).count() === 0L,
      "feed across the maintenance version must be empty")
    // the store is now within threshold: the loop converges to a no-op
    assert(Cdc.planMaintenance(spark, store, maxDepth = 1) === Set.empty[Int])
    assert(Cdc.maintainStore(spark, store, keys, nBuckets, maxDepth = 1) === None)
    // depth-0 maintenance folds the remaining shallow deltas too
    assert(Cdc.maintainStore(spark, store, keys, nBuckets, maxDepth = 0) === Some(5L))
    assert(Cdc.readManifestFull(spark, store, 5L).values.forall(_.deltas.isEmpty))
    assert(readPart(store) === before)
  }

  test("merge-on-read composes with additive schema evolution: a delta commit may " +
      "widen the schema; the fold serves NULL for rows predating the column") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val store = java.nio.file.Files.createTempDirectory("graft_mor_evo").toString
    runBatch(store, seed, 0L)
    // MoR delta commit that ADDS `tier`: only the delta files carry it
    val evo = Seq((5L, "u5", 55.0, "gold", 100L, "U"), (77L, "i77", 7.7, "new", 101L, "U"))
      .toDF("k", "name", "bal", "tier", "seq", "op")
    Cdc.processPartitionedBatch(evo, seed, keys, Seq(col("seq")), col("op"),
      store, nBuckets, 1L, payloadCols = Seq("k", "name", "bal", "tier"),
      casCommit = true, morCommit = true)
    val served = Cdc.readPartitionedSnapshot(spark, store)
    assert(served.columns.toSeq === Seq("k", "name", "bal", "tier"))
    val tiers = served.select("k", "tier").as[(Long, Option[String])].collect().toMap
    assert(tiers(5L) === Some("gold") && tiers(77L) === Some("new"))
    assert(tiers(12L) === None, "pre-evolution rows must fold to NULL for the new column")
    // compaction rewrites the widened schema; served rows unchanged
    val before = served.select("k", "name", "bal", "tier")
      .as[(Long, String, Double, Option[String])].collect().toSet
    Cdc.compactStore(spark, store, keys, nBuckets)
    assert(Cdc.readPartitionedSnapshot(spark, store)
      .select("k", "name", "bal", "tier")
      .as[(Long, String, Double, Option[String])].collect().toSet === before)
  }

  test("layout arguments are validated against the store's recorded metadata: wrong " +
      "nBuckets or keys refuse loudly instead of silently corrupting or missing rows") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val store = java.nio.file.Files.createTempDirectory("graft_layout_guard").toString
    runBatch(store, snap(s: _*), 0L)
    val e1 = intercept[IllegalArgumentException] {
      runBatch(store, snap(s: _*), 1L) // helper uses nBuckets
      Cdc.processPartitionedBatch(log((5L, "x", 1.0, 100L, "U")), snap(s: _*), keys,
        Seq(col("seq")), col("op"), store, nBuckets * 2, 2L)
    }
    assert(e1.getMessage.contains("nBuckets mismatch"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Cdc.lookupKeys(spark, store, Seq("name"), Seq(Tuple1("orig5")).toDF("name"), nBuckets)
    }
    assert(e2.getMessage.contains("merge-key mismatch"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Cdc.compactStore(spark, store, keys, nBuckets * 2)
    }
    assert(e3.getMessage.contains("nBuckets mismatch"), e3.getMessage)
  }

  test("merge-on-read fold depth is bounded BY CONSTRUCTION: a touched bucket at " +
      "morMaxDepth pending deltas auto-compacts inline (fresh base, rows recorded), " +
      "cold buckets in the same statement keep the O(delta) path") {
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    val store = java.nio.file.Files.createTempDirectory("graft_mor_depth").toString
    runBatch(store, seed, 0L)
    val hot = 5L
    val cold = (6L to 40L).find(k => bucketOf(k) != bucketOf(hot)).get
    val maxDepth = 3
    // 10 successive point merges on the SAME key; every one also touches
    // a cold key once (v6) to prove the split
    var applied = Vector.empty[(Long, String, Double, Long, String)]
    (1 to 10).foreach { i =>
      val rows = Seq((hot, s"hot$i", i * 1.0, 100L + i, "U")) ++
        (if (i == 6) Seq((cold, "cold6", 6.6, 106L, "U")) else Nil)
      applied ++= rows
      Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, i.toLong,
        casCommit = true, morCommit = true, morMaxDepth = maxDepth)
      val m = Cdc.readManifestFull(spark, store, i.toLong)
      assert(m.values.forall(_.deltas.length <= maxDepth),
        s"v=$i exceeded the fold-depth cap: ${m.values.map(_.deltas.length).max}")
      // content is exact at every version
      assert(readPart(store) === reference(s, applied),
        s"v=$i diverged from the fold reference")
    }
    // the hot bucket was auto-compacted at least once: some version's
    // entry carries a FRESH base (token writer) with recorded rows
    val hotB = bucketOf(hot)
    val v0Base = Cdc.readManifestFull(spark, store, 0L)(hotB).base
    val compacted = (1 to 10).map(i => Cdc.readManifestFull(spark, store, i.toLong)(hotB))
      .filter(e => e.base != v0Base && e.deltas.isEmpty)
    assert(compacted.nonEmpty, "the depth cap never triggered an inline rewrite")
    assert(compacted.forall(_.rows.isDefined),
      "an auto-compacted bucket must record its row count")
  }

  // ---- CAS logical conflict detection (rebase) -------------------------

  test("splitBuckets: metadata-only layout growth — snapshots, feeds and lookups " +
      "identical across the split at every version; children rewrite natively on " +
      "touch; compaction materializes the rest and restores counts; layout guards " +
      "speak the new count; splits compose") {
    val store = java.nio.file.Files.createTempDirectory("graft_split").toString
    val s = (1L to 200L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    def batchAt(n: Int, id: Long, rows: (Long, String, Double, Long, String)*): Long =
      Cdc.processPartitionedBatch(log(rows: _*), seed, keys,
        Seq(col("seq")), col("op"), store, n, id)
    batchAt(nBuckets, 0L)
    batchAt(nBuckets, 1L, (5L, "u5", 55.0, 100L, "U"), (9L, "d9", 0.0, 101L, "D"))
    val snapAt = (0L to 1L).map(v => v ->
      Cdc.readPartitionedSnapshot(spark, store, Some(v))
        .as[(Long, String, Double)].collect().toSet).toMap
    val feed01 = Cdc.changesBetween(spark, store, 0L, 1L, keys)
      .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq
    val partsBefore = fileState(s"$store/parts")
    // THE SPLIT: 8 → 16, one metadata commit, zero data files touched
    assert(Cdc.splitBuckets(spark, store) === 2L)
    assert(fileState(s"$store/parts") === partsBefore, "split rewrote data files")
    assert(Cdc.readPartitionedSnapshot(spark, store, Some(2L))
      .as[(Long, String, Double)].collect().toSet === snapAt(1L),
      "split changed served content")
    (0L to 1L).foreach(v => assert(Cdc.readPartitionedSnapshot(spark, store, Some(v))
      .as[(Long, String, Double)].collect().toSet === snapAt(v),
      s"split changed time travel at v=$v"))
    // the feed across the split is EMPTY; an interval SPANNING it equals
    // the pre-split interval (expansion-normalized manifest diff)
    assert(Cdc.changesBetween(spark, store, 1L, 2L, keys).isEmpty,
      "a split must be an empty change feed")
    assert(Cdc.changesBetween(spark, store, 0L, 2L, keys)
      .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq === feed01)
    // lookups speak the NEW count and prune to child buckets; the old
    // count refuses loudly (layout guard, recorded generation history)
    val want = Seq(5L, 9L, 12L).toDF("k")
    assert(Cdc.lookupKeys(spark, store, keys, want, 16, None)
      .as[(Long, String, Double)].collect().map(r => r._1 -> r._2).toMap ===
      Map(5L -> "u5", 12L -> "orig12"))
    val eLk = intercept[IllegalArgumentException] {
      Cdc.lookupKeys(spark, store, keys, want, nBuckets, None).collect()
    }
    assert(eLk.getMessage.contains("nBuckets mismatch"), eLk.getMessage)
    val eB = intercept[IllegalArgumentException] { batchAt(nBuckets, 3L, (7L, "x", 1.0, 300L, "U")) }
    assert(eB.getMessage.contains("nBuckets mismatch"), eB.getMessage)
    // a CoW touch rewrites EXACTLY its children natively; untouched
    // children keep serving the parent slice
    batchAt(16, 3L, (7L, "u7", 77.0, 300L, "U"))
    val m3 = Cdc.readManifestFull(spark, store, 3L)
    val child7 = Seq(7L).toDF("k").select(Cdc.bucketExpr(keys, 16)).as[Int].head()
    assert(m3(child7).baseMod.isEmpty && m3(child7).rows.isDefined,
      "touched child not rewritten natively")
    assert(m3.exists(_._2.baseMod.contains(nBuckets)), "every child rewritten by one touch?")
    assert(readPart(store)(7L) === ("u7", 77.0) && readPart(store)(5L) === ("u5", 55.0))
    // merge-on-read DML on a lazily-split child folds through the slice
    Cdc.processPartitionedBatch(log((12L, "mor12", 12.5, 400L, "U")), seed, keys,
      Seq(col("seq")), col("op"), store, 16, 4L, casCommit = true, morCommit = true)
    assert(readPart(store)(12L) === ("mor12", 12.5))
    // compaction materializes every remaining legacy child (split children
    // count as dirty), serves identically, restores counts everywhere
    val before = readPart(store)
    assert(Cdc.compactStore(spark, store, keys, 16).contains(5L))
    assert(readPart(store) === before, "compaction changed served content")
    val m5 = Cdc.readManifestFull(spark, store, 5L)
    assert(m5.values.forall(e => e.baseMod.isEmpty && e.deltas.isEmpty && e.rows.isDefined),
      "compaction left legacy children or missing counts")
    assert(Cdc.changesBetween(spark, store, 4L, 5L, keys).isEmpty)
    // splits COMPOSE: a second split (16 → 32) over the now-native store
    assert(Cdc.splitBuckets(spark, store) === 6L)
    assert(readPart(store) === before)
    assert(Cdc.lookupKeys(spark, store, keys, Seq(12L).toDF("k"), 32, None)
      .as[(Long, String, Double)].head()._2 === "mor12")
    // vacuum after the children materialized: the superseded parent dirs
    // (v0/v1 writers) reap once no retained manifest references them
    Cdc.vacuum(spark, store, keepVersions = 2)
    val left = fileState(s"$store/parts").map(_._1)
    assert(!left.exists(_.contains("_writer=0/")) && !left.exists(_.contains("_writer=1/")),
      s"superseded pre-split writer dirs leaked: ${left.filter(f => f.contains("_writer=0/") || f.contains("_writer=1/"))}")
    assert(readPart(store) === before)
  }

  test("splitBuckets refuses stores with pending deltas, missing layout metadata is " +
      "loud, and a racing writer never rebases past a split") {
    val store = java.nio.file.Files.createTempDirectory("graft_split_guard").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    runBatch(store, snap(s: _*), 0L)
    morBatch(store, snap(s: _*), 1L, (5L, "u5", 55.0, 100L, "U"))
    val e = intercept[IllegalArgumentException] { Cdc.splitBuckets(spark, store) }
    assert(e.getMessage.contains("compactStore"), e.getMessage)
    // feeds across a split refuse a delta'd from-version loudly
    Cdc.compactStore(spark, store, keys, nBuckets)            // v2
    Cdc.splitBuckets(spark, store)                            // v3 (8 -> 16)
    val e2 = intercept[IllegalArgumentException] {
      Cdc.changesBetween(spark, store, 1L, 3L, keys).collect()
    }
    assert(e2.getMessage.contains("delta-free"), e2.getMessage)
    // and a delta-free pre-split from-version diffs exactly
    assert(Cdc.changesBetween(spark, store, 2L, 3L, keys).isEmpty)
  }

  test("MoR + retention interplay: a change feed across a vacuumed boundary refuses " +
      "loudly (never silently skips folded deltas); inside the retained window it " +
      "serves exactly even when the from-side still folds pending deltas") {
    val store = java.nio.file.Files.createTempDirectory("graft_mor_retention").toString
    val s = (1L to 40L).map(k => (k, s"orig$k", k * 1.0))
    val seed = snap(s: _*)
    runBatch(store, seed, 0L)
    morBatch(store, seed, 1L, (5L, "u5", 55.0, 100L, "U"))
    morBatch(store, seed, 2L, (5L, "u5b", 56.0, 200L, "U"), (9L, "d9", 0.0, 201L, "D"))
    def feed(f: Long, t: Long): Seq[(Long, String, Double, String)] =
      Cdc.changesBetween(spark, store, f, t, keys)
        .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4)).toSeq
    val f12 = feed(1L, 2L)
    val snapAt2 = readPart(store)
    // compaction mints v3 (logical no-op) and vacuum trims to {1,2,3}
    assert(Cdc.compactStore(spark, store, keys, nBuckets).contains(3L))
    Cdc.vacuum(spark, store, keepVersions = 3)
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(1L, 2L, 3L))
    // within the window: the from-side (v1) STILL folds its pending delta
    // (vacuum kept every referenced delta dir) and the diff stays exact
    assert(feed(1L, 2L) === f12, "retained MoR diff changed after vacuum+compaction")
    assert(feed(2L, 3L).isEmpty, "compaction must be an empty change feed")
    assert(Cdc.readPartitionedSnapshot(spark, store, Some(2L))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap === snapAt2)
    // across the vacuumed boundary: LOUD refusal, never a silent skip of
    // the deltas that were folded away
    val e = intercept[IllegalArgumentException] { feed(0L, 3L) }
    assert(e.getMessage.contains("committed"), e.getMessage)
    Cdc.vacuum(spark, store, keepVersions = 2)
    val e2 = intercept[IllegalArgumentException] { feed(1L, 3L) }
    assert(e2.getMessage.contains("committed"), e2.getMessage)
  }

  test("CAS rebase: two writers racing the same version with DISJOINT buckets BOTH " +
      "commit (the loser rebases to the next version); both effects serve") {
    val store = java.nio.file.Files.createTempDirectory("graft_cas_rebase").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    // two keys provably in different buckets
    val kA = 5L
    val kB = (6L to 40L).find(k => bucketOf(k) != bucketOf(kA)).get
    // writer A resolves next=1 and lands; writer B also resolved next=1
    // BEFORE A landed (same id), touches a disjoint bucket → must rebase
    // to v2 instead of throwing
    casBatch(store, seed, 1L, (kA, "A", 11.0, 100L, "U"))
    val committedB = Cdc.processPartitionedBatch(
      log((kB, "B", 22.0, 101L, "U")), seed, keys,
      Seq(col("seq")), col("op"), store, nBuckets, 1L, casCommit = true)
    assert(committedB === 2L, "disjoint loser must rebase onto the winner")
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L, 2L))
    val served = readPart(store)
    assert(served(kA) === ("A", 11.0) && served(kB) === ("B", 22.0),
      "both disjoint writers' effects must serve")
    // v1 serves A's effect only (B landed at v2)
    val atV1 = Cdc.readPartitionedSnapshot(spark, store, Some(1L))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(atV1(kA) === ("A", 11.0) && atV1(kB) === (s"orig$kB", kB * 1.0))
    // feed integrity: each version's diff carries exactly its writer's key
    assert(Cdc.changesBetween(spark, store, 1L, 2L, keys)
      .as[(Long, String, Double, String)].collect().map(_._1).toSeq === Seq(kB))
  }

  test("CAS rebase applies to merge-on-read delta commits too, and stops at schema " +
      "changes (a winner that evolved the schema forces the retryable throw)") {
    val store = java.nio.file.Files.createTempDirectory("graft_cas_rebase_mor").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    val kA = 5L
    val kB = (6L to 40L).find(k => bucketOf(k) != bucketOf(kA)).get
    casBatch(store, seed, 1L, (kA, "A", 11.0, 100L, "U"))
    assert(morBatch(store, seed, 1L, (kB, "B", 22.0, 101L, "U")) === 2L)
    val served = readPart(store)
    assert(served(kA) === ("A", 11.0) && served(kB) === ("B", 22.0))
    // schema-changing winner: rename lands at v3; a loser staged against
    // v2's schema must NOT rebase past it
    Cdc.renameColumn(spark, store, "name", "full_name")
    val e = intercept[ConcurrentCdcWriteException] {
      Cdc.processPartitionedBatch(
        log((kA, "stale", 1.0, 300L, "U")), seed, keys,
        Seq(col("seq")), col("op"), store, nBuckets, 3L, casCommit = true)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  // ---- commit-protocol hardening ----------------------------------------

  test("a torn (crashed, marker-less) v= dir cannot livelock CAS commits: the next " +
      "CAS attempt heals it and commits") {
    val store = java.nio.file.Files.createTempDirectory("graft_cas_torn").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    // simulate a torn non-CAS attempt: v=1 exists with data but NO _SUCCESS
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$store/manifest/v=1")
    fs.mkdirs(torn)
    val out = fs.create(new org.apache.hadoop.fs.Path(torn, "part-garbage.parquet"), true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    // before the heal, v=1 is invisible (uncommitted) — a CAS commit at
    // id 1 must purge the torn dir and land, not throw forever
    casBatch(store, seed, 1L, (5L, "healed", 55.0, 100L, "U"))
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(0L, 1L))
    assert(readPart(store)(5L) === ("healed", 55.0))
  }

  test("mixed mode: a streaming (non-CAS) replay that would overwrite a BATCH-DML " +
      "(CAS) commit at the same version detects the moved version line loudly") {
    val store = java.nio.file.Files.createTempDirectory("graft_mixed_mode").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    casBatch(store, seed, 1L, (5L, "dml", 55.0, 100L, "U")) // DML takes v1
    val before = readPart(store)
    val e = intercept[IllegalStateException] {
      runBatch(store, seed, 1L, (7L, "stream", 77.0, 101L, "U")) // stream replays "its" v1
    }
    assert(e.getMessage.contains("CAS") && e.getMessage.contains("checkpoint"),
      e.getMessage)
    // the DML commit is intact — detection, not destruction
    assert(readPart(store) === before)
    Cdc.storedMeta(spark, store, 1L) // throws when v1's metadata is gone
  }

  test("vacuum reaps ABANDONED attempt debris (staging manifests and unreferenced " +
      "token part dirs older than the retained history) but never recent in-flight ones") {
    val store = java.nio.file.Files.createTempDirectory("graft_vac_abandon").toString
    val seed = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seed, 0L)
    casBatch(store, seed, 1L, (5L, "v1", 51.0, 100L, "U"))
    casBatch(store, seed, 2L, (5L, "v2", 52.0, 200L, "U"))
    casBatch(store, seed, 3L, (6L, "v3", 63.0, 300L, "U"))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(path: String, fileMtime: Long, dirMtime: Long): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(path)
      fs.mkdirs(p)
      val file = new org.apache.hadoop.fs.Path(p, "part-x.parquet")
      val f = fs.create(file, true)
      try f.write(Array[Byte](1)) finally f.close()
      if (fileMtime >= 0) fs.setTimes(file, fileMtime, -1)
      if (dirMtime >= 0) fs.setTimes(p, dirMtime, -1)
      p
    }
    // genuinely abandoned: every FILE inside predates the retained history
    val oldToken = (1L << 62) | 12345L
    val oldStaging = mk(s"$store/manifest/_attempt_w=$oldToken", 1000L, 1000L)
    val oldParts = mk(s"$store/parts/_bucket=0/_writer=$oldToken", 1000L, 1000L)
    // a RECENT (in-flight-looking) attempt must survive
    val freshToken = (1L << 62) | 54321L
    val freshStaging = new org.apache.hadoop.fs.Path(s"$store/manifest/_attempt_w=$freshToken")
    fs.mkdirs(freshStaging)
    val freshParts = new org.apache.hadoop.fs.Path(s"$store/parts/_bucket=1/_writer=$freshToken")
    fs.mkdirs(freshParts)
    // the object-store trap: a LIVE statement's dir whose DIRECTORY mtime
    // is stale/meaningless (S3A marker semantics) but whose files are
    // fresh — age must derive from the files, so this survives
    val liveToken = (1L << 62) | 99999L
    val liveStaging = mk(s"$store/manifest/_attempt_w=$liveToken", -1, 1000L)
    val liveParts = mk(s"$store/parts/_bucket=2/_writer=$liveToken", -1, 1000L)
    Cdc.vacuum(spark, store, keepVersions = 2)
    assert(!fs.exists(oldStaging), "abandoned staging dir leaked past vacuum")
    assert(!fs.exists(oldParts), "abandoned token part dir leaked past vacuum")
    assert(fs.exists(freshStaging), "vacuum reaped a recent (in-flight) staging dir")
    assert(fs.exists(freshParts), "vacuum reaped a recent (in-flight) token part dir")
    assert(fs.exists(liveStaging),
      "vacuum convicted a live staging dir on its stale DIRECTORY mtime")
    assert(fs.exists(liveParts),
      "vacuum convicted a live statement's part dir on its stale DIRECTORY mtime")
    assert(readPart(store)(5L) === ("v2", 52.0))
  }

  test("type widening: INT->BIGINT / FLOAT->DOUBLE are metadata-only — both file " +
      "eras serve through the widened schema, the MoR fold crosses the boundary, " +
      "time travel serves each era's own types, and non-widening changes refuse") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StringType}
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_widen").toString
    // the KEY is an int on purpose: widening it must refuse (typed hash)
    val seed = Seq((1, 10, 0.1f), (2, 20, 0.2f), (3, 30, 0.3f))
      .toDF("k", "cnt", "ratio")
    def chg(rows: (Int, Int, Float, Long, String)*): DataFrame =
      rows.toDF("k", "cnt", "ratio", "seq", "op")
    Cdc.processPartitionedBatch(chg(), seed, keys, Seq(col("seq")), col("op"),
      store, nBuckets, 0L) // v0: narrow era files
    // metadata-only widenings: v1, v2 — zero data files rewritten
    val before = fileState(s"$store/parts")
    assert(Cdc.widenColumn(spark, store, "cnt", LongType) === 1L)
    assert(Cdc.widenColumn(spark, store, "ratio", DoubleType) === 2L)
    assert(fileState(s"$store/parts") === before, "widening rewrote data files")
    // old files up-cast on read: ints embed exactly; floats via
    // Float.toDouble (0.1f -> 0.10000000149...), never the decimal repr
    val served = Cdc.readPartitionedSnapshot(spark, store)
    assert(served.schema("cnt").dataType === LongType)
    assert(served.schema("ratio").dataType === DoubleType)
    val rows2 = served.as[(Long, Long, Double)].collect()
      .map { case (k, c, r) => k -> ((c, r)) }.toMap
    assert(rows2 === Map(
      1L -> ((10L, 0.1f.toDouble)), 2L -> ((20L, 0.2f.toDouble)), 3L -> ((30L, 0.3f.toDouble))))
    // the new era writes WIDE values old types couldn't carry; the MoR
    // delta fold crosses the widening boundary (wide delta over narrow base)
    val wide = Seq((2, 5_000_000_000L, 2.5d, 100L, "U"), (4, 40L, 0.4d, 101L, "U"))
      .toDF("k", "cnt", "ratio", "seq", "op")
    Cdc.processPartitionedBatch(wide,
      Cdc.readPartitionedSnapshot(spark, store).limit(0), keys,
      Seq(col("seq")), col("op"), store, nBuckets, 3L, casCommit = true, morCommit = true)
    val folded = Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, Long, Double)].collect().map { case (k, c, r) => k -> ((c, r)) }.toMap
    assert(folded === Map(
      1L -> ((10L, 0.1f.toDouble)), 2L -> ((5_000_000_000L, 2.5d)),
      3L -> ((30L, 0.3f.toDouble)), 4L -> ((40L, 0.4d))))
    // time travel: the narrow era serves its OWN recorded types
    val v0 = Cdc.readPartitionedSnapshot(spark, store, Some(0L))
    assert(v0.schema("cnt").dataType === IntegerType)
    assert(v0.schema("ratio").dataType === FloatType)
    // refusals: merge keys never widen (typed layout hash); non-widening
    // changes are not metadata-expressible
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "k", LongType)
    }.getMessage.contains("merge key"))
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "cnt", IntegerType)
    }.getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "ratio", StringType)
    }.getMessage.contains("widening"))
  }

  test("DECIMAL precision widening: DECIMAL(9,2)->DECIMAL(14,2) is metadata-only — " +
      "both physical eras serve exactly (INT32 files under the wide schema), the MoR " +
      "fold crosses the boundary through the catalog's own reader, ALTER TABLE speaks " +
      "it, and scale changes / narrowings refuse") {
    import org.apache.spark.sql.types.{DecimalType, StringType}
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_decwiden").toString
    def dec(rows: (Long, String)*): DataFrame = rows.toDF("k", "rev")
      .select(col("k"), col("rev").cast(DecimalType(9, 2)).as("rev"))
    val seed = dec(1L -> "10.25", 2L -> "20.50", 3L -> "30.75")
    Cdc.processPartitionedBatch(
      seed.limit(0).withColumn("seq", lit(0L)).withColumn("op", lit("U")),
      seed, keys, Seq(col("seq")), col("op"), store, nBuckets, 0L) // v0: p<=9 era (INT32 files)
    val before = fileState(s"$store/parts")
    assert(Cdc.widenColumn(spark, store, "rev", DecimalType(14, 2)) === 1L)
    assert(fileState(s"$store/parts") === before, "decimal widening rewrote data files")
    // narrow-era files serve EXACTLY under the wide schema (unscaled 1:1)
    val served = Cdc.readPartitionedSnapshot(spark, store)
    assert(served.schema("rev").dataType === DecimalType(14, 2))
    assert(served.select("k", "rev").as[(Long, java.math.BigDecimal)].collect()
      .map { case (k, r) => k -> r.toPlainString }.toMap ===
      Map(1L -> "10.25", 2L -> "20.50", 3L -> "30.75"))
    // a wide MoR delta (value only DECIMAL(14,2) can carry) folds over the
    // narrow base; serve it through the CATALOG so the store's own fold
    // reader decodes both physical classes (INT32 base + INT64 delta)
    val wide = Seq((2L, "123456789012.34", 100L, "U"), (4L, "40.00", 101L, "U"))
      .toDF("k", "rev", "seq", "op")
      .select(col("k"), col("rev").cast(DecimalType(14, 2)).as("rev"), col("seq"), col("op"))
    Cdc.processPartitionedBatch(wide,
      Cdc.readPartitionedSnapshot(spark, store).limit(0), keys,
      Seq(col("seq")), col("op"), store, nBuckets, 2L, casCommit = true, morCommit = true)
    graft.sources.cdc.CdcCatalog.register("cat_decw", store, keys, nBuckets)
    try {
      val folded = spark.table("graft.cat_decw")
        .select("k", "rev").as[(Long, java.math.BigDecimal)].collect()
        .map { case (k, r) => k -> r.toPlainString }.toMap
      assert(folded === Map(
        1L -> "10.25", 2L -> "123456789012.34", 3L -> "30.75", 4L -> "40.00"))
      // key-panel point lookup decodes the decimal era mix too
      val hit = Cdc.lookupKeys(spark, store, keys, Seq(Tuple1(2L)).toDF("k"), nBuckets)
        .select("rev").as[java.math.BigDecimal].collect()
      assert(hit.map(_.toPlainString).toSeq === Seq("123456789012.34"))
      // ALTER TABLE e2e: a further widening through the SQL surface
      spark.sql("ALTER TABLE graft.cat_decw ALTER COLUMN rev TYPE DECIMAL(20,2)")
      assert(spark.table("graft.cat_decw").schema("rev").dataType === DecimalType(20, 2))
      assert(spark.table("graft.cat_decw")
        .select("k", "rev").as[(Long, java.math.BigDecimal)].collect()
        .map { case (k, r) => k -> r.toPlainString }.toMap === folded)
    } finally graft.sources.cdc.CdcCatalog.unregister("cat_decw")
    // time travel: the narrow era serves its OWN recorded type
    assert(Cdc.readPartitionedSnapshot(spark, store, Some(0L))
      .schema("rev").dataType === DecimalType(9, 2))
    // refusals: scale change (a rewrite in disguise), narrowing, cross-type
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "rev", DecimalType(22, 3))
    }.getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "rev", DecimalType(9, 2))
    }.getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException] {
      Cdc.widenColumn(spark, store, "rev", StringType)
    }.getMessage.contains("widening"))
  }

  test("Z-order compaction: clustered rewrite serves byte-identical content; a " +
      "selective 2-D predicate decodes a fraction of what the unclustered layout reads") {
    // Twin stores with the SAME merge history (a base plus one MoR delta
    // touching every bucket, so compaction rewrites the whole layout):
    // A compacts plain (key-sorted buckets, one file each), B compacts
    // Z-ORDERED on (k, bal) split into 4 range files per bucket — every
    // B file covers a small (k, bal) box, so the scan's pushed filters
    // skip whole row groups on either column.
    val seedRows = (1L to 2000L).map(k => (k, s"n$k", (k * 37 % 1000).toDouble))
    def build(st: String): Unit = {
      val seed = snap(seedRows: _*)
      runBatch(st, seed, 0L)
      morBatch(st, seed, 1L, (1L to 40L).map(k =>
        (k, s"touch$k", (k * 37 % 1000).toDouble, 100L + k, "U")): _*)
    }
    val a = java.nio.file.Files.createTempDirectory("graft_cdc_zo_plain").toString
    val b = java.nio.file.Files.createTempDirectory("graft_cdc_zo_z").toString
    build(a); build(b)
    assert(Cdc.compactStore(spark, a, keys, nBuckets).contains(2L))
    assert(Cdc.compactStore(spark, b, keys, nBuckets,
      zorderCols = Seq("k", "bal"), zorderFilesPerBucket = 4).contains(2L))
    // clustering is layout, never semantics
    assert(readPart(a) === readPart(b), "z-ordered compaction changed content")
    // the clustered store really split each bucket into range files
    val filesPerBucket = Cdc.describeFiles(spark, b)
      .groupBy("_bucket").count().as[(Int, Long)].collect().toMap
    assert(filesPerBucket.values.forall(_ >= 2),
      s"z-order compaction did not split buckets into range files: $filesPerBucket")
    // serve both through the catalog; compare what the scans DECODE
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    graft.sources.cdc.CdcCatalog.register("zo_plain", a, keys, nBuckets)
    graft.sources.cdc.CdcCatalog.register("zo_z", b, keys, nBuckets)
    try {
      def scanRows(df: DataFrame): Long = {
        df.collect()
        def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
          p.collect {
            case bs: BatchScanExec => Seq(bs)
            case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              find(ad.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(q.plan)
          }.flatten
        find(df.queryExecution.executedPlan).head.metrics("numOutputRows").value
      }
      val pred = col("bal") >= 100.0 && col("bal") < 200.0 // ~10% of rows
      val wantA = spark.table("graft.zo_plain").filter(pred)
      val wantB = spark.table("graft.zo_z").filter(pred)
      val resA = wantA.as[(Long, String, Double)].collect().toSet
      val resB = wantB.as[(Long, String, Double)].collect().toSet
      assert(resA === resB && resA.nonEmpty, "filtered reads disagree")
      val (decodedA, decodedB) = (scanRows(wantA), scanRows(wantB))
      // plain layout: one file per bucket spanning the whole bal range —
      // nothing skips. Clustered: only the boxes overlapping the range
      // decode. Generous factor: the z-curve gives ~half at 4 files.
      assert(decodedB <= decodedA * 7 / 10,
        s"z-ordered scan decoded $decodedB rows vs $decodedA unclustered — stats " +
          "pushdown is not biting on the clustered layout")
    } finally {
      graft.sources.cdc.CdcCatalog.unregister("zo_plain")
      graft.sources.cdc.CdcCatalog.unregister("zo_z")
    }
    // DATE z-dimension (the natural time-clustering column): Spark
    // refuses date→numeric casts, so the dimension normalizes through
    // unix_date — the advertised use must commit and serve identically
    val dz = java.nio.file.Files.createTempDirectory("graft_cdc_zo_date").toString
    val dSeed = (1 to 200).map(i =>
        (i.toLong, java.sql.Date.valueOf(f"199${i % 7}-0${1 + i % 9}%d-15"), i * 1.5))
      .toDF("k", "d", "bal")
    Cdc.processPartitionedBatch(
      Seq.empty[(Long, java.sql.Date, Double, Long, String)].toDF("k", "d", "bal", "seq", "op"),
      dSeed, keys, Seq(col("seq")), col("op"), dz, nBuckets, 0L)
    Cdc.processPartitionedBatch(
      (1L to 40L).map(k => (k, java.sql.Date.valueOf("1999-01-01"), k * 2.0, 100L + k, "U"))
        .toDF("k", "d", "bal", "seq", "op"),
      Cdc.readPartitionedSnapshot(spark, dz).limit(0),
      keys, Seq(col("seq")), col("op"), dz, nBuckets, 1L, casCommit = true, morCommit = true)
    val preDate = Cdc.readPartitionedSnapshot(spark, dz)
      .as[(Long, java.sql.Date, Double)].collect().toSet
    assert(Cdc.compactStore(spark, dz, keys, nBuckets,
      zorderCols = Seq("d", "bal")).contains(2L))
    assert(Cdc.readPartitionedSnapshot(spark, dz)
      .as[(Long, java.sql.Date, Double)].collect().toSet === preDate,
      "date-dimension z-order compaction changed content")
    // EMPTIED dirty set: a delta that deletes every row of its bucket
    // must still zorder-compact (bucket drops; no NPE off null bounds)
    val ez = java.nio.file.Files.createTempDirectory("graft_cdc_zo_empty").toString
    val oneKey = snap((1L, "only", 1.0))
    runBatch(ez, oneKey, 0L)
    morBatch(ez, oneKey, 1L, (1L, "", 0.0, 100L, "D"))
    assert(Cdc.compactStore(spark, ez, keys, nBuckets,
      zorderCols = Seq("k", "bal")).contains(2L))
    assert(Cdc.readManifestFull(spark, ez, 2L).isEmpty,
      "emptied bucket must drop from the zorder-compacted manifest")
  }

  test("randomized concurrent writers: N racing threads over random (often " +
      "overlapping) key sets — the version line stays consecutive with one " +
      "writer per version, and the store equals the commit-order replay") {
    // The edge the deterministic CAS specs don't randomize: disjoint
    // losers REBASE inside commitCas, overlapping losers throw retryable
    // and re-apply at a fresh version — under arbitrary interleavings the
    // committed line must stay linearizable (consecutive versions, one
    // acknowledged writer each) with zero lost updates (the final
    // snapshot is exactly the fold of acknowledged batches in COMMIT
    // order — an upsert batch's meaning is snapshot-independent).
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_race").toString
    val seedDf = snap((1L to 40L).map(k => (k, s"orig$k", k * 1.0)): _*)
    runBatch(store, seedDf, 0L)
    val rnd = new scala.util.Random(19)
    // pre-draw each writer's rounds on the driver thread (Random is not
    // thread-safe; determinism keeps failures replayable)
    val writers = 4
    val rounds = 3
    val plans: Seq[Seq[Seq[(Long, String, Double, Long, String)]]] =
      (0 until writers).map { w =>
        (0 until rounds).map { r =>
          val ks = rnd.shuffle((1L to 40L).toList).take(3 + rnd.nextInt(5))
          val del = ks.head
          (del, "", 0.0, 0L, "D") +: ks.tail.map(k =>
            (k, s"w${w}r$r-$k", (w * 100 + r).toDouble, 0L, "U"))
        }
      }
    val acks = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Seq[(Long, String, Double, Long, String)])]()
    val empty = Cdc.readPartitionedSnapshot(spark, store).limit(0)
    def commitWithRetry(rows: Seq[(Long, String, Double, Long, String)]): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        val next = Cdc.manifestVersions(spark, store).max + 1
        try {
          val v = Cdc.processPartitionedBatch(log(rows: _*), empty, keys,
            Seq(col("seq")), col("op"), store, nBuckets, next, casCommit = true)
          acks.add((v, rows)); done = true
        } catch {
          case _: ConcurrentCdcWriteException =>
            attempts += 1
            assert(attempts <= 30, "retry budget exhausted — livelock?")
        }
      }
    }
    val threads = (0 until writers).map { w =>
      new Thread(() => plans(w).foreach(commitWithRetry), s"race-writer-$w")
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    threads.foreach(_.setUncaughtExceptionHandler((_, e) => failures.add(e)))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer thread died: ${failures.peek()}")
    // linearizable version line: every acknowledged commit landed on its
    // own version, and the committed line has no holes
    val ackSeq = acks.asScala.toSeq
    assert(ackSeq.size === writers * rounds, "an acknowledged commit went missing")
    assert(ackSeq.map(_._1).distinct.size === ackSeq.size,
      "two writers were acknowledged at the same version")
    val vs = Cdc.manifestVersions(spark, store).sorted
    assert(vs === (0L to vs.max), s"version line has holes: $vs")
    // zero lost updates: the served snapshot equals the in-memory fold of
    // acknowledged batches in COMMIT (version) order — later commit wins
    var expected = (1L to 40L).map(k => k -> ((s"orig$k", k * 1.0))).toMap
    ackSeq.sortBy(_._1).foreach { case (_, rows) =>
      rows.foreach {
        case (k, _, _, _, "D")    => expected -= k
        case (k, nm, b, _, _)     => expected += k -> ((nm, b))
      }
    }
    assert(readPart(store) === expected, "a committed update was lost or reordered")
  }
}
