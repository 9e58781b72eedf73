package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cdc

/** Laws that pin the engine's one query-metrics collector to independent
  * truths: the scan-byte counter agrees with the bytes on disk, and it
  * sees the IO a bucket-pruned read saves. */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanBytesOf(df: => DataFrame): Long = {
    val metrics = new QueryMetrics(spark)
    try metrics.measure(df.write.format("noop").mode("overwrite").save()).scanBytes
    finally metrics.close()
  }

  test("a full scan of the events fixture reports at least 0.9x the file's on-disk size") {
    val file = s"${TestSpark.sf0001}/events.parquet"
    val onDisk = Files.size(Paths.get(file))
    val read = scanBytesOf(spark.read.parquet(file))
    assert(read >= 0.9 * onDisk, s"full scan reported $read B of a $onDisk B file")
  }

  test("a bucket-pruned CDC key lookup reports fewer scan bytes than a full store scan") {
    val store = Files.createTempDirectory("graft_qm_cdc").toString
    val keys = Seq("k")
    val n = 8
    val seed = (1L to 400L).map(k => (k, s"name$k", k * 1.5)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    val full = scanBytesOf(Cdc.readPartitionedSnapshot(spark, store))
    val lookup = scanBytesOf(Cdc.lookupKeys(spark, store, keys, Seq(7L).toDF("k"), n))
    assert(lookup > 0, "the lookup is a file scan and must report its bytes")
    assert(lookup < full, s"pruned lookup read $lookup B, full scan $full B")
  }

  test("a CDC catalog scan reports its live files' on-disk bytes; a key-pinned lookup fewer") {
    import scala.jdk.CollectionConverters._
    val store = Files.createTempDirectory("graft_qm_cat").toString
    val keys = Seq("k")
    val n = 8
    val seed = (1L to 400L).map(k => (k, s"name$k", k * 1.5)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    // one commit: every data file under parts/ is live
    val onDisk = Files.walk(Paths.get(store, "parts")).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    graft.sources.cdc.CdcCatalog.register("qm_cat", store, keys, n)
    try {
      // SUM is never answered from footers, so both queries read files
      val full = scanBytesOf(spark.table("graft.qm_cat").agg(sum("bal")))
      val lookup = scanBytesOf(spark.table("graft.qm_cat").filter(col("k") === 7L).agg(sum("bal")))
      assert(full >= 0.9 * onDisk, s"catalog full scan reported $full B of $onDisk B live files")
      assert(lookup > 0, "the catalog lookup opens its bucket's files and must report them")
      assert(lookup < full, s"key-pinned catalog lookup read $lookup B, full scan $full B")
    } finally graft.sources.cdc.CdcCatalog.unregister("qm_cat")
  }
}
