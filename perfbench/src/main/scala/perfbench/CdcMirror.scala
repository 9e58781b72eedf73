package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cdc
import graft.sources.cdc.CdcCatalog

/** `cdc_mirror`: the relay's downstream content mirror, writes beside
  * reads on one merge-on-read store of 16 buckets. One client, closed
  * loop; each round is one change-batch merge
  * (`Cdc.processPartitionedBatch`, CAS + merge-on-read commit), a set of
  * point lookups (half `Cdc.lookupKeys`, half SQL on the
  * `CdcCatalog`-registered table), one full-snapshot aggregate
  * (alternating `Cdc.readPartitionedSnapshot` and the catalog table), and
  * every `CompactEvery`-th round a `Cdc.maintainStore` compaction. */
object CdcMirror {
  val Buckets        = 16
  val SeedDocs       = 20000
  val ChangesPerRound = 400
  val LookupsPerRound = 6
  val KeysPerLookup  = 5
  val CompactEvery   = 2
  /** Compaction cycles of the set-up, on the measured store: the first
    * runs every call path cold, the later ones let the JIT settle. */
  val WarmupCycles   = 3
  /** Compaction folds every bucket deeper than this; a bucket gains one
    * delta per merge, so each compaction cycle rewrites the store. */
  val MaxDepth       = CompactEvery - 1
  val Keys           = Seq("doc_id")
  val Table          = "mirror"

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("content_type", StringType),
    StructField("section", StringType),
    StructField("headline", StringType),
    StructField("published", BooleanType),
    StructField("revision", LongType),
    StructField("score", DoubleType)))
  val changeSchema: StructType = StructType(docSchema.fields ++ Seq(
    StructField("seq", LongType, nullable = false), StructField("op", StringType, nullable = false)))

  type Doc = (String, String, String, String, Boolean, Long, Double)

  private val Types    = Array("story", "video", "gallery")
  private val Sections = Array("news", "business", "opinion", "sports", "arts", "life", "politics", "world")

  /** Seeded doc population, change batches and lookup key sets, with a
    * driver-side model of the store that every result is checked against. */
  final class Model(seed: Long, stream: Long) {
    private val rnd = new SplittableRandom(seed * 1000003L + stream)
    private var nextDoc = 0
    private var seq = 0L
    val live = mutable.HashMap.empty[String, Doc]
    /** Doc ids in the order they were last touched; recent ones are hot. */
    private val touched = mutable.ArrayBuffer.empty[String]

    private def id(n: Int) = f"doc-$stream%d-$n%08d"
    private def doc(key: String, rev: Long): Doc =
      (key, Types(rnd.nextInt(Types.length)), Sections(rnd.nextInt(Sections.length)),
        s"headline ${rnd.nextInt(1000000)} rev $rev", rnd.nextInt(10) < 9, rev, rnd.nextInt(100000) / 100.0)
    private def recent(): String = {
      val u = rnd.nextDouble()
      touched(touched.length - 1 - (u * u * u * touched.length).toInt)
    }

    def seedDocs(n: Int): Seq[Doc] = (0 until n).map { _ =>
      val d = doc(id(nextDoc), 0L); nextDoc += 1
      live(d._1) = d; touched += d._1; d
    }

    /** One change batch: typed I/U/D rows skewed toward recent docs. */
    def changes(n: Int): Seq[Row] = {
      val rows = (0 until n).map { _ =>
        seq += 1
        val u = rnd.nextInt(100)
        val (key, op) =
          if (u < 20) { val k = id(nextDoc); nextDoc += 1; (k, "I") }
          else if (u < 92) (recent(), "U")
          else (recent(), "D")
        val d = doc(key, seq)
        op match {
          case "D" => live.remove(key)
          case _   => live(key) = d
        }
        touched += key
        Row(d._1, d._2, d._3, d._4, d._5, d._6, d._7, seq, op)
      }
      rows
    }

    /** Keys of one lookup: mostly hot docs, some cold or deleted ones. */
    def lookupKeys(n: Int): Seq[String] =
      (0 until n).map(i => if (i < n * 3 / 5) recent() else id(rnd.nextInt(math.max(1, nextDoc)))).distinct
  }

  private def docRow(r: Row): Doc =
    (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4), r.getLong(5), r.getDouble(6))

  private val cols = docSchema.fieldNames.toSeq.map(col)

  /** Count and order-independent hash of a snapshot's rows. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(cols: _*).agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** A store, its model and the change batches applied so far. */
  final class Store(ctx: Ctx, val path: String, val table: String, val model: Model, docs: Int = SeedDocs) {
    val spark = ctx.spark
    val seedDf: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(model.seedDocs(docs).map(d => Row(d.productIterator.toSeq: _*)): _*), docSchema)
    val applied = mutable.ArrayBuffer.empty[DataFrame]
    var version = 0L

    def seedStore(): Unit = {
      Cdc.processPartitionedBatch(spark.createDataFrame(java.util.Collections.emptyList[Row](), changeSchema),
        seedDf, Keys, Seq(col("seq")), col("op"), path, Buckets, 0L)
      CdcCatalog.register(table, path, Keys, Buckets)
    }
    def changesDf(n: Int): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(model.changes(n): _*), changeSchema)
    def merge(batch: DataFrame): Unit = {
      version = Cdc.processPartitionedBatch(batch, seedDf, Keys, Seq(col("seq")), col("op"), path, Buckets,
        version + 1, casCommit = true, morCommit = true)
      applied += batch
    }
    def compact(): Unit =
      Cdc.maintainStore(spark, path, Keys, Buckets, MaxDepth).foreach(v => version = v)
    def frameLookup(keys: Seq[String]): Array[Row] = {
      import spark.implicits._
      Cdc.lookupKeys(spark, path, Keys, keys.toDF("doc_id"), Buckets).select(cols: _*).collect()
    }
    def catalogLookup(keys: Seq[String]): Array[Row] =
      spark.sql(s"SELECT ${docSchema.fieldNames.mkString(", ")} FROM graft.$table WHERE doc_id IN (" +
        keys.map(k => s"'$k'").mkString(", ") + ")").collect()
    def frameScan(): Row =
      Cdc.readPartitionedSnapshot(spark, path).agg(count(lit(1)), sum(col("revision"))).head()
    def catalogScan(): Row =
      spark.sql(s"SELECT count(1), sum(revision) FROM graft.$table").head()
    def lookupOk(keys: Seq[String], got: Array[Row]): Boolean =
      got.map(docRow).toSet == keys.flatMap(model.live.get).toSet && got.length == keys.count(model.live.contains)
    def scanOk(r: Row): Boolean =
      r.getLong(0) == model.live.size.toLong &&
        (if (r.isNullAt(1)) 0L else r.getLong(1)) == model.live.valuesIterator.map(_._6).sum
    /** Final snapshot equals `Cdc.upsert` of seed + every applied batch. */
    def finalOk(): Boolean = {
      val all = applied.reduceOption(_ unionByName _)
      val expect = all.map(Cdc.upsert(seedDf, _, Keys, Seq(col("seq")), col("op"))).getOrElse(seedDf)
      digest(Cdc.readPartitionedSnapshot(spark, path)) == digest(expect)
    }
  }

  final case class Calls(
      merges: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      compacts: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      frameLookups: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      catalogLookups: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      scans: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      var changes: Long = 0L,
      var attempted: Long = 0L,
      var failed: Long = 0L)

  /** Per-layer accumulators of a traced phase. */
  final class LayerAcc {
    var mergeFiles = 0L; var mergeBytes = 0L; var mergeRecords = 0L
    var compactBytes = 0L; var depthMax = 0
    val lookupBuckets = mutable.ArrayBuffer.empty[Double]
    val lookupFilesPlanned = mutable.ArrayBuffer.empty[Double]
    val scanFilesPlanned = mutable.ArrayBuffer.empty[Double]
    val lookupBytes = mutable.ArrayBuffer.empty[Double]
    val scanBytes = mutable.ArrayBuffer.empty[Double]
  }

  /** Runs rounds for `seconds`; `round0` continues the round numbering. */
  private def rounds(s: Store, seconds: Int, round0: Int, tracer: Option[Tracer], acc: LayerAcc): (Calls, Int) = {
    val c = Calls()
    var callNo = 0
    def call[T](name: String, sink: mutable.ArrayBuffer[Double])(f: => T): (T, Seq[ExecRec], Seq[JobRec]) = {
      callNo += 1
      val req = s"$name-$round0-$callNo"
      val before = tracer.map(t => t.synchronized(t.execs.length)).getOrElse(0)
      val t0 = System.nanoTime()
      val r = tracer match {
        case Some(t) => t.span(name, req)(f)
        case None    => f
      }
      sink += (System.nanoTime() - t0) / 1e6
      c.attempted += 1
      tracer.map { t =>
        t.drain()
        (r, t.synchronized(t.execs.drop(before).toSeq), t.jobsOf(req))
      }.getOrElse((r, Nil, Nil))
    }
    def storeFiles(): Map[String, Long] =
      if (tracer.isEmpty) Map.empty else Files.list(s.path).map(f => f.getPath -> f.length).toMap
    def added(before: Map[String, Long]): Seq[Long] =
      if (tracer.isEmpty) Nil else Files.list(s.path).filter(f => !before.contains(f.getPath)).map(_.length)
    val start = System.nanoTime()
    var round = round0
    // whole compaction cycles (`round0` starts one), stopping at the cycle
    // end nearest to `seconds`; 0 seconds runs one cycle
    def more: Boolean = round == round0 || round % CompactEvery != 0 || {
      val elapsed = (System.nanoTime() - start) / 1e9
      elapsed * (1 + 0.5 * CompactEvery / (round - round0)) < seconds
    }
    while (more) {
      round += 1
      val batch = s.changesDf(ChangesPerRound)
      val keySets = Seq.fill(LookupsPerRound)(s.model.lookupKeys(KeysPerLookup))
      // expected answers are taken from the model after this round's merge
      val f0 = storeFiles()
      val (_, _, mergeJobs) = call("cdc.merge", c.merges)(s.merge(batch))
      c.changes += ChangesPerRound
      if (tracer.isDefined) {
        val nf = added(f0)
        acc.mergeFiles += nf.length; acc.mergeBytes += nf.sum
        acc.mergeRecords += tracer.get.totals(mergeJobs).recordsWritten
      }
      keySets.zipWithIndex.foreach { case (keys, i) =>
        if (i % 2 == 0) {
          val (got, ex, _) = call("cdc.lookup.frame", c.frameLookups)(s.frameLookup(keys))
          if (!s.lookupOk(keys, got)) c.failed += 1
          if (tracer.isDefined) acc.lookupBytes += ex.map(_.fileScanBytes).sum.toDouble
        } else {
          val (got, ex, _) = call("cdc.lookup.catalog", c.catalogLookups)(s.catalogLookup(keys))
          if (!s.lookupOk(keys, got)) c.failed += 1
          if (tracer.isDefined) {
            acc.lookupBuckets += ex.map(_.custom.getOrElse("plannedBuckets", 0L)).sum.toDouble
            acc.lookupFilesPlanned += ex.map(_.custom.getOrElse("plannedFiles", 0L)).sum.toDouble
          }
        }
      }
      if (round % 2 == 0) {
        val (r, ex, _) = call("cdc.scan.frame", c.scans)(s.frameScan())
        if (!s.scanOk(r)) c.failed += 1
        if (tracer.isDefined) acc.scanBytes += ex.map(_.fileScanBytes).sum.toDouble
      } else {
        val (r, ex, _) = call("cdc.scan.catalog", c.scans)(s.catalogScan())
        if (!s.scanOk(r)) c.failed += 1
        if (tracer.isDefined) {
          acc.scanFilesPlanned += ex.map(_.custom.getOrElse("plannedFiles", 0L)).sum.toDouble
        }
      }
      if (round % CompactEvery == 0) {
        if (tracer.isDefined) {
          val (_, _, manifest, _) = Cdc.servingState(s.spark, s.path)
          acc.depthMax = math.max(acc.depthMax, manifest.values.map(_.deltas.length).maxOption.getOrElse(0))
        }
        val f1 = storeFiles()
        call("cdc.compact", c.compacts)(s.compact())
        acc.compactBytes += added(f1).sum
      }
    }
    (c, round)
  }

  def run(ctx: Ctx): Outcome = {
    // set-up: seed the store, then warm-up cycles of the same round mix
    // on it; the seed docs are generated before the set-up clock starts
    val store = new Store(ctx, ctx.dir("store"), Table, new Model(ctx.seed, 1L))
    var warmRound = 0
    val warm = mutable.ArrayBuffer.empty[Calls]
    val (_, setupS) = Stats.timed {
      store.seedStore()
      (1 to WarmupCycles).foreach { k =>
        val (w, r) = rounds(store, 0, warmRound, None, new LayerAcc)
        warmRound = r
        warm += w
        Log(f"warm-up cycle $k: write ${(w.merges.sum + w.compacts.sum) / 1000}%.2f s, " +
          f"lookups ${Stats.median(w.frameLookups.toSeq)}%.0f/${Stats.median(w.catalogLookups.toSeq)}%.0f ms")
      }
    }
    Log(f"set-up $setupS%.2f s")

    val plan = Phases.plan(ctx)
    var tracer: Option[Tracer] = None
    val acc = new LayerAcc
    var round = warmRound
    var gc = 0.0
    val phases = plan.zipWithIndex.map { case ((secs, traced), k) =>
      val t = if (traced) { Jvm.resetPeaks(); tracer = Some(new Tracer(ctx.spark)); tracer } else None
      val gc0 = Jvm.gcSeconds()
      val (c, r) = rounds(store, secs, round, t, acc)
      t.foreach { tr => tr.stop(); gc = Jvm.gcSeconds() - gc0 }
      Log(s"phase $k: ${r - round} rounds")
      round = r
      c
    }
    val main = plan.indexWhere(_._2).max(0)
    val c = phases(main)
    val lookups = (c.frameLookups ++ c.catalogLookups).toSeq
    // the two entry points have different latency distributions; a pooled
    // median would sit in the gap between them and jump with each run's
    // mix, so each gets equal weight through its own median
    val lookupP50 = (Stats.median(c.frameLookups.toSeq) + Stats.median(c.catalogLookups.toSeq)) / 2
    val writeS = (c.merges.sum + c.compacts.sum) / 1000.0
    // lookups and scans were checked against the model as they ran
    // (Calls.failed); the final snapshot is checked once
    val checks = Seq("final snapshot equals Cdc.upsert of seed + all batches" -> store.finalOk())
    Log("final snapshot checked")
    val storeMb = Files.bytes(store.path) / 1048576.0
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "throughput_per_s" -> Metric(c.changes / math.max(1e-9, writeS), "1/s"),
      "latency_p50_ms" -> Metric(lookupP50, "ms"),
      "latency_p90_ms" -> Metric(Stats.pct(lookups, 0.9), "ms"))
    val detail = Map(
      "merge_p50_ms" -> Metric(Stats.median(c.merges.toSeq), "ms"),
      "changes_per_s" -> e2e("throughput_per_s"),
      "lookup_p50_ms" -> e2e("latency_p50_ms"),
      "lookup_p90_ms" -> e2e("latency_p90_ms"),
      "lookup_samples" -> Metric(lookups.length.toDouble, "count"),
      "scan_p50_ms" -> Metric(Stats.median(c.scans.toSeq), "ms"),
      "store_mb" -> Metric(storeMb, "MB"),
      "rounds" -> Metric(c.merges.length.toDouble, "count"))
    val layers = tracer.map { t =>
      t.attachJobs()
      t.write(new File(ctx.out, s"${ctx.workload}-${ctx.seed}.spans.jsonl").getPath)
      val untraced = phases.indices.filter(_ != main).map { i =>
        (Stats.median(phases(i).frameLookups.toSeq) + Stats.median(phases(i).catalogLookups.toSeq)) / 2
      }
      layerMap(c, acc, t, gc) +
        ("trace.overhead_frac" -> Phases.overhead(untraced, lookupP50, higherIsBetter = false))
    }.getOrElse(Map.empty)
    val all = checks ++ (if (ctx.trace) selfTest(acc) else Nil)
    // warm-up calls are checked like measured ones
    val calls = (warm ++ phases).toSeq
    Outcome(e2e, detail, layers, calls.map(_.attempted).sum + all.length,
      calls.map(_.failed).sum + all.count(!_._2), all)
  }

  /** Byte-counter self-test: a point lookup reads fewer bytes than a full
    * store scan. */
  private def selfTest(acc: LayerAcc): Seq[(String, Boolean)] =
    Seq("a lookup reads fewer bytes than a full store scan" ->
      (acc.lookupBytes.nonEmpty && acc.scanBytes.nonEmpty &&
        Stats.median(acc.lookupBytes.toSeq) < Stats.median(acc.scanBytes.toSeq)))

  private def layerMap(c: Calls, acc: LayerAcc, t: Tracer, gc: Double): Map[String, Double] = {
    val all = t.totals(t.jobs.toSeq)
    Map(
      "cdc.merge_files_written" -> acc.mergeFiles.toDouble,
      "cdc.merge_bytes_written" -> acc.mergeBytes.toDouble,
      "cdc.rows_written_per_change" -> acc.mergeRecords.toDouble / math.max(1L, c.changes),
      "cdc.compact_ms" -> Stats.median(c.compacts.toSeq),
      "cdc.compact_bytes_rewritten" -> acc.compactBytes.toDouble,
      "cdc.delta_depth_max" -> acc.depthMax.toDouble,
      "cdc.lookup_buckets_planned" -> Stats.median(acc.lookupBuckets.toSeq),
      "cdc.lookup_files_planned" -> Stats.median(acc.lookupFilesPlanned.toSeq),
      "cdc.scan_files_planned" -> Stats.median(acc.scanFilesPlanned.toSeq),
      "cdc.lookup_bytes_read" -> Stats.median(acc.lookupBytes.toSeq),
      "cdc.scan_bytes_read" -> Stats.median(acc.scanBytes.toSeq),
      "cdc.catalog_lookup_ms" -> Stats.median(c.catalogLookups.toSeq),
      "cdc.frame_lookup_ms" -> Stats.median(c.frameLookups.toSeq),
      "spark.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.task_run_s" -> all.runMs / 1e3,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "jvm.gc_s" -> gc,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb())
  }

  /** The CDC layers measured on a small fixed probe (a 2,000-doc store,
    * one compaction cycle), for traced runs of workloads that do not
    * exercise them. Returns the layer metrics and the self-test. */
  def probe(ctx: Ctx): (Map[String, Double], Seq[(String, Boolean)]) = {
    val s = new Store(ctx, ctx.dir("probe-store"), s"${Table}_probe", new Model(ctx.seed, 2000L), 2000)
    s.seedStore()
    val t = new Tracer(ctx.spark)
    val acc = new LayerAcc
    val (c, _) = rounds(s, 1, 0, Some(t), acc)
    t.stop()
    (layerMap(c, acc, t, 0.0), selfTest(acc))
  }
}
