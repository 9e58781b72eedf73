package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.operators.ArcPipeline
import graft.sources.Kpl
import graft.sources.sharded.{ShardedOffset, ShardedStreamProvider}

/** The Arc relay as a stream: sharded source → unbase64 → KPL
  * deaggregation → `ArcPipeline.runRecords` → doc-id-keyed sharded sink,
  * draining a pre-generated backlog under `Trigger.AvailableNow` with a
  * fixed `maxRecordsPerTrigger`. */
object Relay {
  val Shards     = 4
  val SinkShards = 4
  val Filter     = ArcPipeline.FilterConfig(website = Some("globeandmail"))
  val Fmt        = classOf[ShardedStreamProvider].getName

  /** Drain backlog size per measured second, in Kinesis records. */
  val DrainRecordsPerSecond = 4000
  /** Micro-batch size cap of the drain, in Kinesis records. */
  val DrainMaxRecordsPerTrigger = 10000
  /** Records per shard file of a drain backlog. */
  val FilePerShard = 2000
  /** Warm-up: a drain the batch reference checks, then a longer one that
    * lets the JIT settle before anything is measured. */
  val WarmupRecords = Seq(4000, 11000)

  /** Kinesis records → user records (agg_id, decode_ok, rec_idx, key, data). */
  def users(src: DataFrame): Dataset[Kpl.UserRecord] =
    Kpl.deaggregateRecords(src.select(
      (col("shard").cast("long") * 1000000000L + col("seq")).as("agg_id"),
      unbase64(col("payload")).as("payload")))

  /** The relay's output rows in the sink's (shard, seq, payload) shape. */
  def relayed(src: DataFrame): DataFrame = {
    val (projected, _) = ArcPipeline.runRecords(
      users(src).filter(col("decode_ok")).select(col("data").as("payload")), Filter)
    projected.select(
      pmod(xxhash64(col("doc_id")), lit(SinkShards)).cast("int").as("shard"),
      lit(0L).as("seq"),
      to_json(struct(projected.columns.map(col).toIndexedSeq: _*)).as("payload"))
  }

  private def source(ctx: Ctx, dir: String): DataFrame =
    ctx.spark.readStream.format(Fmt).option("path", dir)
      .option("maxRecordsPerTrigger", DrainMaxRecordsPerTrigger.toLong).load()

  private def batchSource(ctx: Ctx, dir: String): DataFrame =
    ctx.spark.read.format(Fmt).option("path", dir).load()

  /** Count, distinct count and an order-independent hash of a column. */
  private def digest(df: DataFrame, c: String): (Long, Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), count_distinct(col(c)),
      coalesce(sum(xxhash64(col(c)).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  /** A backlog landed in its source directory, and the sink directory a
    * drain of it writes to. */
  final case class Landed(src: String, dst: String, backlog: Gen.Backlog)

  /** Everything one drain produced. */
  final case class PhaseRun(in: Landed, wallS: Double, progress: Seq[StreamingQueryProgress]) {
    def src: String = in.src
    def dst: String = in.dst
    def backlog: Gen.Backlog = in.backlog
    def batches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
  }

  /** Write `b` as shard files into a fresh source directory. This is input
    * generation: no timed region includes it. */
  def land(ctx: Ctx, name: String, b: Gen.Backlog): Landed = {
    val src = ctx.dir(s"$name-src")
    Gen.writeBacklog(src, b, Shards, FilePerShard)
    Landed(src, ctx.dir(s"$name-dst"), b)
  }

  /** Drain a landed backlog under `Trigger.AvailableNow`; wall time runs
    * from query start to termination. */
  def drain(ctx: Ctx, in: Landed): PhaseRun = {
    val t0 = System.nanoTime()
    val q = relayed(source(ctx, in.src)).writeStream.format(Fmt)
      .queryName(new File(in.dst).getName)
      .option("path", in.dst).option("checkpointLocation", s"${in.dst}-ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    PhaseRun(in, wall, q.recentProgress.toSeq)
  }

  private def ts(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty else ShardedOffset.fromJson(json).seqs

  /** The relay's own counts over a drain's input: a batch run of the same
    * functions, observed where the sharded source, `Kpl.deaggregateRecords`
    * and `ArcPipeline`'s decode stage hand rows on. */
  final case class Counts(records: Long, payloadBytes: Long, userRecords: Long, kplFailed: Long,
      decoded: Long, corrupt: Long, survivors: Long) {
    def deadLetters: Long = kplFailed + corrupt
  }

  def counts(ctx: Ctx, src: String): Counts = {
    val srcObs = Observation("source"); val kplObs = Observation("kpl"); val arcObs = Observation("arc")
    val in = batchSource(ctx, src).observe(srcObs, count(lit(1)).as("records"),
      coalesce(sum(octet_length(col("payload"))), lit(0L)).as("bytes"))
    val us = users(in).observe(kplObs, count_if(col("decode_ok")).as("ok"), count_if(!col("decode_ok")).as("failed"))
    val (kept, _) = ArcPipeline.runRecords(us.filter(col("decode_ok")).select(col("data").as("payload")), Filter,
      Some(arcObs))
    val survivors = kept.count()
    def get(o: Observation, k: String): Long = o.get(k).asInstanceOf[Number].longValue
    Counts(get(srcObs, "records"), get(srcObs, "bytes"), get(kplObs, "ok"), get(kplObs, "failed"),
      get(arcObs, "total_records"), get(arcObs, "corrupt_records"), survivors)
  }

  /** Output check of a drain: the sink holds exactly the event ids the
    * generator knows the filter keeps (count, no duplicates,
    * order-independent hash), and the stream consumed every record. */
  def check(ctx: Ctx, r: PhaseRun): Seq[(String, Boolean)] = {
    import ctx.spark.implicits._
    val (sinkN, sinkDistinct, sinkHash) =
      digest(batchSource(ctx, r.dst).select(get_json_object(col("payload"), "$.event_id").as("id")), "id")
    val (expN, _, expHash) = digest(r.backlog.survivors.toSeq.toDF("id"), "id")
    val consumed = r.progress.lastOption.map(p => offsets(p.sources(0).endOffset).values.sum).getOrElse(0L)
    Seq(
      "sink count equals generated survivors" -> (sinkN == expN),
      "sink has no duplicates" -> (sinkDistinct == sinkN),
      "sink hash equals generated survivors" -> (sinkHash == expHash),
      "every generated record consumed" -> (consumed == r.backlog.recs.length.toLong))
  }

  /** The relay's counts against what the generator planted: deaggregated
    * user records, and KPL md5 failures plus `ArcPipeline` dead letters. */
  def countsCheck(c: Counts, b: Gen.Backlog): Seq[(String, Boolean)] = Seq(
    "deaggregated user records equal generated" -> (c.userRecords == b.userRecords),
    "dead letters equal planted corrupt records" -> (c.deadLetters == b.planted.deadLetters))

  /** Batch-reference check, on the warm-up input (same generator,
    * separate records): the sink equals a batch run of the same relay over
    * the same source (count, order-independent payload hash), and the
    * batch relay's counts match what was planted. */
  def referenceCheck(ctx: Ctx, r: PhaseRun): Seq[(String, Boolean)] = {
    val (sinkN, _, sinkHash) = digest(batchSource(ctx, r.dst), "payload")
    val (refN, _, refHash) = digest(relayed(batchSource(ctx, r.src)), "payload")
    ("warm-up sink equals batch relay reference" -> (sinkN == refN && sinkHash == refHash)) +:
      countsCheck(counts(ctx, r.src), r.backlog)
  }

  /** Per-layer numbers of a traced drain, and the checks of its counts.
    * JVM figures are read first, before the isolated passes run. */
  private def layers(ctx: Ctx, r: PhaseRun, t: Tracer, gc0: Double)
      : (Map[String, Double], Seq[(String, Boolean)]) = {
    val gcS = Jvm.gcSeconds() - gc0
    val heapMb = Jvm.heapPeakMb()
    t.drain()
    val batches = r.batches
    val nb = math.max(1, batches.length).toDouble
    def p50(k: String) = Stats.median(batches.map(dur(_, k)))
    // spans: trigger → progress phases laid end to end in engine order,
    // Spark jobs of the batch under addBatch
    val gaps = batches.map { p =>
      val req = s"batch-${p.batchId}"
      val t0 = ts(p); val trig = dur(p, "triggerExecution").toLong
      val top = t.addSpan("stream.trigger", t0, t0 + trig, 0, req)
      var at = t0
      var addBatch = top
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        val d = dur(p, k).toLong
        if (d > 0 || k == "addBatch") {
          val id = t.addSpan(s"stream.$k", at, at + d, top, req)
          if (k == "addBatch") addBatch = id
          at += d
        }
      }
      val js = t.jobsOf(req)
      js.foreach(j => t.addSpan("spark.job", j.start, j.end, addBatch, req))
      trig - Stats.unionLength(js.map(j => (math.max(j.start, t0), math.min(j.end, t0 + trig))).filter(iv => iv._2 > iv._1))
    }
    val js = batches.flatMap(p => t.jobsOf(s"batch-${p.batchId}"))
    val tot = t.totals(js)
    val sinkFiles = Files.list(r.dst, dataOnly = true)
    // isolated batch passes over the drain's input: source alone, source +
    // KPL, source + KPL + Arc decode/filter/project; each the median of
    // three, and the layer costs their differences as measured (within
    // noise a difference can fall below 0 on a small input)
    def pass(df: DataFrame): Double =
      Stats.median(Seq.fill(3)(Stats.timed(df.write.format("noop").mode("overwrite").save())._2))
    val srcDf = batchSource(ctx, r.src)
    val tSrc = pass(srcDf.select(unbase64(col("payload")).as("p")))
    val tKpl = pass(users(srcDf).toDF())
    val tAll = pass(relayed(srcDf))
    val c = counts(ctx, r.src)
    val sinkRows = batchSource(ctx, r.dst).count()
    val read = batches.map(_.numInputRows).sum
    val layer = Map(
      "sharded.latest_offset_ms" -> p50("latestOffset"),
      "sharded.add_batch_ms" -> p50("addBatch"),
      "sharded.files_per_batch" -> sinkFiles.length / nb,
      "sharded.bytes_out" -> sinkFiles.map(_.length).sum.toDouble,
      "stream.query_planning_ms" -> p50("queryPlanning"),
      "stream.wal_commit_ms" -> p50("walCommit"),
      "stream.commit_offsets_ms" -> p50("commitOffsets"),
      "kpl.deagg_s" -> (tKpl - tSrc),
      "kpl.user_records_per_record" -> c.userRecords / math.max(1.0, c.records),
      "arc.decode_filter_s" -> (tAll - tKpl),
      "arc.survivor_frac" -> sinkRows / math.max(1.0, c.decoded),
      "arc.corrupt_records" -> c.deadLetters.toDouble,
      "arc.bytes_in" -> c.payloadBytes.toDouble,
      "spark.jobs_per_batch" -> js.length / nb,
      "spark.tasks_per_batch" -> tot.tasks / nb,
      "spark.driver_gap_ms" -> Stats.median(gaps.map(_.toDouble)),
      "spark.task_cpu_s" -> tot.cpuNs / 1e9,
      "spark.task_run_s" -> tot.runMs / 1e3,
      "spark.shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapMb)
    val checks = countsCheck(c, r.backlog) ++ Seq(
      "stream read every Kinesis record once" -> (read == c.records),
      "batch relay survivors equal the sink's rows" -> (c.survivors == sinkRows))
    (layer, checks)
  }

  /** Runs `relay_drain`: set-up (warm-up drains on separate input), then
    * the measured drains of [[Phases.plan]]. */
  def run(ctx: Ctx, events: Array[Gen.Event]): Outcome = {
    // warm-up input is generated and landed before the set-up clock starts
    val warm = WarmupRecords.zipWithIndex.map { case (n, i) =>
      land(ctx, s"warmup$i", Gen.backlog(events, ctx.seed, 1000L + i, n, ctx.cores))
    }
    Log("warm-up input landed")
    val (warmRuns, warmS) = Stats.timed(warm.map(drain(ctx, _)))
    Log(f"warm-up drains $warmS%.2f s")
    val plan = Phases.plan(ctx)
    val results = plan.zipWithIndex.map { case ((secs, traced), k) =>
      val in = land(ctx, s"phase$k", Gen.backlog(events, ctx.seed, k + 1L, DrainRecordsPerSecond * secs, ctx.cores))
      Log(s"phase $k input landed")
      val tracer = if (traced) { Jvm.resetPeaks(); Some(new Tracer(ctx.spark)) } else None
      val gc0 = Jvm.gcSeconds()
      val r = drain(ctx, in)
      val batchMs = r.batches.map(dur(_, "triggerExecution"))
      Log(f"phase $k relayed in ${r.wallS}%.2f s, batches ${batchMs.map(_.toLong).mkString(" ")} ms")
      val e2e = Map(
        "throughput_per_s" -> Metric(r.backlog.userRecords / math.max(1e-9, r.wallS), "1/s"),
        "latency_p50_ms" -> Metric(Stats.median(batchMs), "ms"))
      val (lay, layerChecks) = tracer.map { t =>
        val l = layers(ctx, r, t, gc0)
        t.stop()
        t.write(new File(ctx.out, s"${ctx.workload}-${ctx.seed}.spans.jsonl").getPath)
        l
      }.getOrElse((Map.empty[String, Double], Nil))
      val detail = Map(
        "records_per_s" -> e2e("throughput_per_s"),
        "batch_p50_ms" -> e2e("latency_p50_ms"),
        "batch_max_ms" -> Metric(batchMs.maxOption.getOrElse(0.0), "ms"),
        "batches" -> Metric(batchMs.length.toDouble, "count"))
      Log(s"phase $k checked")
      (e2e, detail, lay, batchMs.length.toLong, check(ctx, r) ++ layerChecks)
    }
    val main = plan.indexWhere(_._2).max(0)
    val (e2e, detail, lay, _, _) = results(main)
    val untraced = results.indices.filter(_ != main).map(results(_)._1)
    val overhead =
      if (!ctx.trace) 0.0
      else Phases.overhead(untraced.map(_("throughput_per_s").value), e2e("throughput_per_s").value, true)
    // the batch reference runs last, on the warm-up input, with the JVM warm
    val allChecks = results.flatMap(_._5) ++ warmRuns.flatMap(check(ctx, _)) ++ referenceCheck(ctx, warmRuns.head)
    Log("reference checked")
    Outcome(
      e2e + ("setup_s" -> Metric(warmS, "s")),
      detail,
      lay ++ Map("trace.overhead_frac" -> overhead),
      results.map(_._4).sum + allChecks.length,
      allChecks.count(!_._2),
      allChecks)
  }

  /** The relay layers measured on a small fixed probe (a 6,000-record
    * drain), for traced runs of workloads that do not exercise them.
    * Returns the layer metrics and the checks of the probe's counts. */
  def probe(ctx: Ctx, events: Array[Gen.Event]): (Map[String, Double], Seq[(String, Boolean)]) = {
    val in = land(ctx, "probe", Gen.backlog(events, ctx.seed, 2000L, 6000, ctx.cores))
    val t = new Tracer(ctx.spark)
    val gc0 = Jvm.gcSeconds()
    val r = drain(ctx, in)
    val l = layers(ctx, r, t, gc0)
    t.stop()
    l
  }
}
