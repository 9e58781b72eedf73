package graft.sources.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for the VECTORIZED catalog read path ([[CdcColumnarReader]]):
  *  - the plan actually goes columnar: a `ColumnarToRow` sits over the
  *    store's `BatchScan` (the batches feed whole-stage codegen like
  *    Spark's own parquet source);
  *  - every supported payload type, NULLs and DECIMAL included, serves
  *    exactly what Spark's own parquet FileSourceScan reads from the same
  *    files (`Cdc.readPartitionedSnapshot`), and a pending I/U/D delta
  *    folds (row path over the same reader) to the DataFrame window fold;
  *  - additive evolution: files predating a column serve all-NULL
  *    vectors through the columnar path;
  *  - the feed table's `_commit_timestamp` constant survives the
  *    columnar path (partition-value vector, not file data);
  *  - key-panel pruning still serves exact rows (the parquet filter is
  *    row-group/page advice in the vectorized path).
  */
class CdcColumnarSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nBuckets = 4

  private def assertColumnar(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val hasColumnarScan = plan.collect {
      case c: ColumnarToRowExec =>
        c.collectFirst { case b: BatchScanExec => b }.isDefined
    }.exists(identity)
    assert(hasColumnarScan, s"scan did not go columnar:\n${plan.toString.take(2000)}")
  }

  test("every payload type reads as FileSourceScan does; MoR folds too") {
    val store = java.nio.file.Files.createTempDirectory("graft_colall").toString
    val schema = "k LONG, i INT, d DOUBLE, f FLOAT, s STRING, b BOOLEAN, dt DATE, m DECIMAL(12,2)"
    val cols = org.apache.spark.sql.types.StructType.fromDDL(schema).fieldNames.toSeq
    // payload of row `id`, version `v`; NULLs in every nullable column
    def payload(v: Int): String =
      s"""id AS k, CAST(id + $v AS INT) AS i, CAST(id * 1.5 + $v AS DOUBLE) AS d,
         |  CAST(id * 0.5 + $v AS FLOAT) AS f,
         |  CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s$v-', id) END AS s,
         |  (id + $v) % 2 = 0 AS b,
         |  CASE WHEN id % 7 = 0 THEN NULL
         |    ELSE date_add(DATE'2024-01-01', CAST(id + $v AS INT)) END AS dt,
         |  CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id * 1.25 + $v AS DECIMAL(12,2)) END AS m""".stripMargin
    val rows = spark.sql(s"SELECT ${payload(0)} FROM range(0, 200)")
    Cdc.processPartitionedBatch(
      rows.withColumn("seq", lit(1L)).withColumn("op", lit("U")),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema)),
      Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("col_all", store, Seq("k"), nBuckets)
    // the independent reference: Spark's own parquet FileSourceScan over
    // the same files, merge-on-read folded by the DataFrame window fold
    def rowsOf(df: DataFrame): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    try {
      val served = spark.table("graft.col_all")
      assertColumnar(served.select("k", "s"))
      val viaColumnar = rowsOf(served)
      assert(viaColumnar === rowsOf(Cdc.readPartitionedSnapshot(spark, store)),
        "columnar reader and FileSourceScan disagree")
      assert(viaColumnar.size === 200)
      // a PENDING merge-on-read delta over every type: updates (new
      // values, NULLs included), deletes, and inserts of new keys
      val delta = spark.sql(
        s"""SELECT ${payload(1)}, 2L AS seq,
           |  CASE WHEN id >= 200 THEN 'I' WHEN id % 2 = 0 THEN 'D' ELSE 'U' END AS op
           |FROM range(0, 220, 3)""".stripMargin)
      Cdc.processPartitionedBatch(delta, Cdc.readPartitionedSnapshot(spark, store).limit(0),
        Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 1L,
        casCommit = true, morCommit = true)
      val folded = spark.table("graft.col_all")
      val plan = folded.queryExecution.executedPlan
      assert(plan.collect { case c: ColumnarToRowExec => c }.isEmpty,
        s"a delta'd store must fold on the row path:\n${plan.toString.take(2000)}")
      val viaFold = rowsOf(folded)
      assert(viaFold === rowsOf(Cdc.readPartitionedSnapshot(spark, store)),
        "the fold reader and the DataFrame window fold disagree")
      val touched = (0L until 220L by 3)
      val deleted = touched.filter(k => k < 200 && k % 2 == 0).toSet
      assert(viaFold.size === 200 - deleted.size + touched.count(_ >= 200))
      assert(viaFold.map(_.head.asInstanceOf[Long]).intersect(deleted).isEmpty)
      val updated = viaFold.find(_.head == 3L).get
      assert(updated(4) === "s1-3" && updated(7) === new java.math.BigDecimal("4.75"),
        s"key 3 must serve its delta row: $updated")
    } finally CdcCatalog.unregister("col_all")
  }

  test("additive evolution serves NULL vectors for pre-evolution files; " +
      "key-panel point reads stay exact") {
    val store = java.nio.file.Files.createTempDirectory("graft_colevo").toString
    val seed = (1L to 50L).map(k => (k, s"n$k")).toDF("k", "name")
    Cdc.processPartitionedBatch(
      Seq((1L, "b0", 10L, "U")).toDF("k", "name", "seq", "op"),
      seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    Cdc.processPartitionedBatch(
      Seq((2L, "b1", "gold", 20L, "U")).toDF("k", "name", "tier", "seq", "op"),
      seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 1L,
      payloadCols = Seq("k", "name", "tier"))
    CdcCatalog.register("col_evo", store, Seq("k"), nBuckets)
    try {
      val t = spark.table("graft.col_evo")
      assertColumnar(t)
      val tiers = t.select("k", "tier").as[(Long, Option[String])].collect().toMap
      assert(tiers(2L) === Some("gold"))
      assert(tiers(1L) === None, "pre-evolution file must serve NULL through the columnar path")
      assert(tiers.size === 50)
      // point read through bucket pruning + the parquet key panel
      val point = t.filter(col("k") === 7L)
      assertColumnar(point)
      assert(point.select("k", "name").as[(Long, String)].collect().toSeq === Seq((7L, "n7")))
      val in = t.filter(col("k").isin(3L, 9L, 33L)).select("k").as[Long].collect().toSet
      assert(in === Set(3L, 9L, 33L))
    } finally CdcCatalog.unregister("col_evo")
  }

  test("feed table serves _commit_timestamp as a constant vector through the columnar path") {
    val store = java.nio.file.Files.createTempDirectory("graft_colfeed_s").toString
    val feed = java.nio.file.Files.createTempDirectory("graft_colfeed_f").toString
    val seed = (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "bal")
    Cdc.processPartitionedBatch(
      Seq((1L, 11.0, 10L, "U")).toDF("k", "bal", "seq", "op"),
      seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    Cdc.processPartitionedBatch(
      Seq((2L, 22.0, 20L, "U"), (3L, 0.0, 21L, "D")).toDF("k", "bal", "seq", "op"),
      seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 1L)
    Cdc.changesBetweenCdf(spark, store, 0L, 1L, Seq("k"))
      .write.mode("overwrite").parquet(s"$feed/v=1")
    CdcCatalog.registerFeed("col_feed", store, feed)
    try {
      val t = spark.table("graft.col_feed")
      assertColumnar(t)
      val rows = t.select("k", "_change_type", "_commit_version", "_commit_timestamp")
        .as[(Long, String, Long, java.sql.Timestamp)].collect().toSet
      val ts = Cdc.feedCommitTime(spark, feed, 1L)
      assert(rows.map(r => (r._1, r._2, r._3)) ===
        Set((2L, "update_preimage", 1L), (2L, "update_postimage", 1L), (3L, "delete", 1L)))
      assert(rows.forall(_._4.getTime === ts),
        "constant _commit_timestamp must be the feed commit marker's mtime")
    } finally CdcCatalog.unregister("col_feed")
  }

  test("pushed source filters stay exact through the columnar path (every v1 shape)") {
    val store = java.nio.file.Files.createTempDirectory("graft_colfilt").toString
    val rows = spark.sql(
      """SELECT id AS k, CAST(id * 1.5 AS DOUBLE) AS bal,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE concat('n', id) END AS name,
        |  date_add(DATE'2024-01-01', CAST(id % 100 AS INT)) AS dt
        |FROM range(0, 500)""".stripMargin)
    Cdc.processPartitionedBatch(
      rows.withColumn("seq", lit(1L)).withColumn("op", lit("U")),
      rows.limit(0), Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("col_filt", store, Seq("k"), nBuckets)
    try {
      val t = spark.table("graft.col_filt")
      val ref = rows.collect().map(_.toSeq).toSet
      def check(p: org.apache.spark.sql.Column, refP: org.apache.spark.sql.Row => Boolean): Unit = {
        val got = t.filter(p).select("k", "bal", "name", "dt").collect().map(_.toSeq).toSet
        val want = rows.filter(p).collect().map(_.toSeq).toSet
        assert(got === want, s"filter $p diverged")
      }
      check(col("bal") > 600.0, _ => true)
      check(col("bal") >= 600.0 && col("bal") < 630.0, _ => true)
      check(col("name").isNull, _ => true)
      check(col("name").isNotNull && col("name").startsWith("n1"), _ => true)
      check(col("dt") === java.sql.Date.valueOf("2024-01-11"), _ => true)
      check(col("name").isin("n7", "n13", "nope"), _ => true)
      check(!(col("bal") > 30.0) || col("k") % 7 === 0, _ => true)
      assert(t.collect().map(_.toSeq.take(4)).toSet === ref)
    } finally CdcCatalog.unregister("col_filt")
  }

  test("source filters prune ROW GROUPS: a selective range over a sorted column decodes " +
      "a fraction of the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_colrg").toString + "/data"
    // one file, many small row groups, sorted by v → tight stats
    spark.range(0, 400000).selectExpr("id AS v", "concat('x', id) AS s")
      .coalesce(1).sortWithinPartitions("v")
      .write.option("parquet.block.size", 64 * 1024).parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val schema = org.apache.spark.sql.types.StructType.fromDDL("v LONG, s STRING")
    def rowsReturned(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val r = new CdcColumnarReader(Array(file -> new java.io.File(file).length), schema,
        Map.empty, sourceFilters = filters)
      var total = 0L
      while (r.next()) total += r.get().numRows()
      r.close(); total
    }
    val full = rowsReturned(Array.empty)
    assert(full === 400000L)
    val pruned = rowsReturned(Array(
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("v", 200000L),
        org.apache.spark.sql.sources.LessThan("v", 201000L))))
    // supersets are allowed (row-group granularity), but a sorted column
    // with tight stats must skip the overwhelming majority
    assert(pruned >= 1000L && pruned < full / 2,
      s"row-group pruning ineffective: $pruned of $full rows decoded")
  }

  test("count(*) over the store plans an empty projection and still counts exactly") {
    val store = java.nio.file.Files.createTempDirectory("graft_colcnt").toString
    val seed = (1L to 123L).map(k => (k, s"n$k")).toDF("k", "name")
    Cdc.processPartitionedBatch(
      Seq((1L, "b0", 10L, "U")).toDF("k", "name", "seq", "op"),
      seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    CdcCatalog.register("col_cnt", store, Seq("k"), nBuckets)
    try assert(spark.table("graft.col_cnt").count() === 123L)
    finally CdcCatalog.unregister("col_cnt")
  }

  test("stats-stripped files degrade gracefully: pushed aggregates stay on the footer-stats " +
      "plan and answer exactly by row-decoding only the uncooperative files — no toggle") {
    // a store whose writer DISABLED column statistics entirely: every
    // footer has row counts but no per-chunk min/max/null counts — the
    // shape the old correct-or-loud guard turned into an execute-time
    // failure; now each such file row-decodes exactly once
    val hc = spark.sparkContext.hadoopConfiguration
    val store = java.nio.file.Files.createTempDirectory("graft_nostats").toString
    hc.setBoolean("parquet.column.statistics.enabled", false)
    // the ANALYZE-on-write read-back doesn't depend on footer stats, but
    // keep this commit minimal-shaped anyway
    try {
      val seed = (1L to 60L).map(k =>
        (k, if (k % 7 == 0) null else s"name$k", k * 1.5)).toDF("k", "name", "bal")
      Cdc.processPartitionedBatch(
        Seq((1L, "upd1", 11.0, 100L, "U")).toDF("k", "name", "bal", "seq", "op"),
        seed, Seq("k"), Seq(col("seq")), col("op"), store, nBuckets, 0L)
    } finally hc.unset("parquet.column.statistics.enabled")
    // prove the fixture: a data column chunk really carries no statistics
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstParquet(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
      val sts = fs.listStatus(p).sortBy(_.getPath.getName)
      sts.collectFirst { case st if st.isFile && st.getPath.getName.endsWith(".parquet") => st.getPath }
        .getOrElse(firstParquet(sts.filter(_.isDirectory).head.getPath))
    }
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        firstParquet(new org.apache.hadoop.fs.Path(s"$store/parts")), hc))
    val stripped = try {
      import scala.jdk.CollectionConverters._
      val st = rdr.getFooter.getBlocks.asScala.head.getColumns.asScala
        .find(_.getPath.toDotString == "bal").get.getStatistics
      st == null || st.isEmpty
    } finally rdr.close()
    assert(stripped, "fixture must produce statistics-free chunks")
    CdcCatalog.register("col_nostats", store, Seq("k"), nBuckets)
    try {
      def scanOf(df: DataFrame) = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case b: BatchScanExec => b.scan }
      }.flatten.head
      val aggCols = Seq(min(col("bal")).as("lo"), max(col("bal")).as("hi"),
        count(col("name")).as("names"), count(lit(1)).as("n"))
      val pushed = spark.table("graft.col_nostats").agg(aggCols.head, aggCols.tail: _*)
      assert(scanOf(pushed).isInstanceOf[CdcStatsScan], scanOf(pushed).description())
      val expected = Cdc.readPartitionedSnapshot(spark, store)
        .agg(aggCols.head, aggCols.tail: _*).collect().toSeq
      assert(pushed.collect().toSeq === expected,
        "row-decode fallback must answer exactly what the row scan would")
    } finally CdcCatalog.unregister("col_nostats")
  }
}
