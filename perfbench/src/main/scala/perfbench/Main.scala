package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --out <dir>`. Prints the workload's named metrics on
  * one line, then the result object as the last line:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
  * metrics untraced, the per-layer metrics traced. */
object Main {
  val EndToEnd = Seq("setup_s", "throughput_per_s", "latency_p50_ms")

  /** Every per-layer metric, printed by every traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sharded.latest_offset_ms" -> "ms", "sharded.add_batch_ms" -> "ms", "sharded.files_per_batch" -> "count",
    "sharded.bytes_out" -> "bytes",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "kpl.deagg_s" -> "s", "kpl.user_records_per_record" -> "ratio",
    "arc.decode_filter_s" -> "s", "arc.survivor_frac" -> "ratio", "arc.corrupt_records" -> "count",
    "arc.bytes_in" -> "bytes",
    "spark.jobs_per_batch" -> "count", "spark.tasks_per_batch" -> "count", "spark.driver_gap_ms" -> "ms",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "cdc.merge_files_written" -> "count", "cdc.merge_bytes_written" -> "bytes",
    "cdc.rows_written_per_change" -> "ratio", "cdc.compact_ms" -> "ms", "cdc.compact_bytes_rewritten" -> "bytes",
    "cdc.delta_depth_max" -> "count", "cdc.lookup_buckets_planned" -> "count",
    "cdc.lookup_files_planned" -> "count", "cdc.scan_files_planned" -> "count",
    "cdc.lookup_bytes_read" -> "bytes", "cdc.scan_bytes_read" -> "bytes",
    "cdc.catalog_lookup_ms" -> "ms", "cdc.frame_lookup_ms" -> "ms",
    "host.calib_cpu_s" -> "s", "host.calib_io_s" -> "s", "host.load1" -> "load",
    "selftest.events_scan_ratio" -> "ratio", "trace.overhead_frac" -> "ratio")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.catalog.graft", "graft.sources.cdc.CdcCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed     = arg(args, "--seed").toLong
    val seconds  = arg(args, "--seconds").toInt
    val trace    = arg(args, "--trace") == "1"
    val work     = new File(arg(args, "--work"), s"$workload-$seed-${ProcessHandle.current().pid()}")
    val out      = arg(args, "--out")
    // the fixture tables, from the same variable and default as graft.Bench
    val fixtureDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(new File(s"$fixtureDir/events.parquet").isFile, s"fixture tables not found under $fixtureDir")
    require(Set("relay_drain", "cdc_mirror").contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val load1 = Host.load1()
    Files.delete(work)
    work.mkdirs()

    val (spark, sessionS) = Stats.timed(session(cores, work.getPath))
    val ctx = Ctx(spark, workload, seed, seconds, trace, work.getPath, out, cores, fixtureDir)
    Log(f"session up in $sessionS%.2f s")
    // calibration probes cost seconds: traced runs take them
    val (calibCpu, calibIo) = if (trace) Host.calibrate(spark, fixtureDir, cores) else (0.0, 0.0)
    lazy val events = Gen.loadEvents(spark, fixtureDir)
    val o = workload match {
      case "relay_drain" => Relay.run(ctx, events)
      case "cdc_mirror"  => CdcMirror.run(ctx)
    }
    Log("workload done")
    // traced runs report every layer: the layers this workload does not
    // exercise are measured on a small fixed probe of their own (the
    // workload's own numbers win for shared layers such as spark.* and jvm.*)
    val (probeLayers, probeChecks) =
      if (!trace) (Map.empty[String, Double], Nil)
      else if (workload == "cdc_mirror") Relay.probe(ctx, events)
      else CdcMirror.probe(ctx)
    // byte-counter self-test (traced runs): a full scan of events.parquet
    // must report at least 0.9x the file's on-disk size
    val scanRatio =
      if (!trace) 1.0
      else {
        val t = new Tracer(spark)
        val f = new File(s"$fixtureDir/events.parquet")
        spark.read.parquet(f.getPath).write.format("noop").mode("overwrite").save()
        t.stop()
        t.execs.map(_.fileScanBytes).sum.toDouble / f.length
      }
    val checks = o.checks ++ probeChecks ++
      (if (trace) Seq("events scan reports >= 0.9x its on-disk bytes" -> (scanRatio >= 0.9)) else Nil)
    val failed = o.failed + checks.drop(o.checks.length).count(!_._2)
    val attempted = o.attempted + checks.length - o.checks.length
    checks.filterNot(_._2).foreach { case (n, _) => System.err.println(s"[perfbench] CHECK FAILED: $n") }

    val e2e = o.endToEnd.updated("setup_s", Metric(o.endToEnd("setup_s").value + sessionS, "s"))
    val host = Map("host.load1" -> load1) ++
      (if (trace) Map("host.calib_cpu_s" -> calibCpu, "host.calib_io_s" -> calibIo) else Map.empty)
    println(s"""{"workload": ${Json.str(workload)}, "seed": $seed, "trace": $trace, "detail": ${Json.metrics(o.detail ++ e2e)}, """ +
      s""""host": {${host.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}, """ +
      s""""checks": {${checks.map { case (n, ok) => s"${Json.str(n)}: $ok" }.mkString(", ")}}}""")
    val metrics: Map[String, Metric] =
      if (!trace) EndToEnd.map(k => k -> e2e(k)).toMap
      else {
        val layers = probeLayers ++ o.layers ++ host + ("selftest.events_scan_ratio" -> scanRatio)
        PerLayer.map { case (k, u) => k -> Metric(layers.getOrElse(k, 0.0), u) }.toMap
      }
    spark.stop()
    Files.delete(work)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
  }
}
