package graft.sources.cdc

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Cdc

/** Laws for the store's SUB-BUCKET read path:
  *  - every bucket file is KEY-SORTED (the MERGE write's per-partition
  *    sort), so per-row-group key statistics are TIGHT — min/max equal
  *    the file's first/last key, which is exactly what parquet's
  *    row-group filter needs to skip groups a point read can't match;
  *  - the scan's key panels reach the parquet reader as real filter
  *    predicates: over a key-sorted file of many row groups,
  *    [[CdcColumnarReader]] decodes nothing for a key outside every
  *    group and only a fraction of the file for a hit (row-group
  *    pruning — Spark re-checks every predicate above, so the pushdown
  *    stays IO advice, never correctness).
  */
class CdcSortedStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val n = 8
  private val payload = StructType(Seq(
    StructField("k", LongType), StructField("name", StringType),
    StructField("bal", DoubleType)))

  private def buildStore(): String = {
    val store = java.nio.file.Files.createTempDirectory("graft_sorted_store").toString
    val seed = (1L to 200L).map(k => (k, s"orig$k", k * 1.0)).toDF("k", "name", "bal")
    Cdc.processPartitionedBatch(
      seed.withColumn("_seq", lit(0L)).withColumn("_op", lit("U")),
      seed.limit(0), keys, Seq(col("_seq")), col("_op"), store, n, 0L)
    store
  }

  private def bucketFiles(store: String): Seq[String] = {
    val parts = new Path(s"$store/parts")
    val fs = parts.getFileSystem(new Configuration())
    fs.globStatus(new Path(parts, "_bucket=*/_writer=*/part-*.parquet"))
      .map(_.getPath.toString).toSeq.sorted
  }

  private def readKeys(file: String, filters: Array[(String, Array[Any])] = Array.empty): Seq[Long] = {
    val p = new Path(file)
    val r = new CdcColumnarReader(
      Array(file -> p.getFileSystem(new Configuration()).getFileStatus(p).getLen),
      payload, Map.empty, filters)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (r.next()) {
      val batch = r.get()
      (0 until batch.numRows()).foreach(i => out += batch.column(0).getLong(i))
    } finally r.close()
    out.toSeq
  }

  test("bucket files are key-sorted and their row-group key statistics are tight") {
    val store = buildStore()
    val files = bucketFiles(store)
    assert(files.size === n, s"expected one file per bucket, got ${files.size}")
    files.foreach { f =>
      val ks = readKeys(f)
      assert(ks === ks.sorted, s"file $f is not key-sorted")
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), new Configuration()))
      try {
        val blocks = footer.getFooter.getBlocks.asScala
        assert(blocks.nonEmpty)
        // tight stats per row group: min/max equal the group's edge keys
        var offset = 0
        blocks.foreach { b =>
          val rows = b.getRowCount.toInt
          val stats = b.getColumns.asScala
            .find(_.getPath.toDotString == "k").get.getStatistics
          val (lo, hi) = (stats.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            stats.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          assert(lo === ks(offset), s"row-group min is not the first key in $f")
          assert(hi === ks(offset + rows - 1), s"row-group max is not the last key in $f")
          offset += rows
        }
      } finally footer.close()
    }
  }

  test("key panels prune row groups: a miss decodes no rows") {
    // one key-sorted file of many small row groups (tight key stats)
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_rg").toString + "/data"
    spark.range(0, 200000)
      .selectExpr("id AS k", "concat('n', id) AS name", "CAST(id AS DOUBLE) AS bal")
      .coalesce(1).sortWithinPartitions("k")
      .write.option("parquet.block.size", 64 * 1024).parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), new Configuration()))
    val groups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(groups >= 4, s"fixture must have many row groups, got $groups")
    val all = readKeys(file)
    assert(all === (0L until 200000L))
    // 999999 is outside every group's [min,max]: nothing decodes
    assert(readKeys(file, Array(("k", Array[Any](999999L)))).isEmpty)
    // a hit decodes its own row group: at least the row, less than the file
    val hit = 123457L
    val one = readKeys(file, Array(("k", Array[Any](hit))))
    assert(one.contains(hit) && one.size < all.size, s"${one.size} of ${all.size} rows decoded")
    // a two-value panel ORs: both groups, still a fraction of the file
    val two = readKeys(file, Array(("k", Array[Any](5L, 190000L))))
    assert(two.contains(5L) && two.contains(190000L) && two.size < all.size)
    // an unrelated string panel conjunct ANDs: a name outside every
    // group's range prunes the hit's group too
    assert(readKeys(file, Array(("k", Array[Any](hit)), ("name", Array[Any](s"n$hit"))))
      .contains(hit))
    assert(readKeys(file, Array(
      ("k", Array[Any](hit)),
      ("name", Array[Any]("no-such-name")))).isEmpty)
  }

  test("catalog point reads stay exact end to end with the parquet filter active") {
    val store = buildStore()
    CdcCatalog.register("sorted_pt", store, keys, n)
    try {
      val got = spark.table("graft.sorted_pt")
        .filter(col("k").isin(3L, 77L, 150L))
        .select("k", "name", "bal").as[(Long, String, Double)].collect().toSet
      assert(got === Set(3L, 77L, 150L).map(k => (k, s"orig$k", k * 1.0)))
    } finally CdcCatalog.unregister("sorted_pt")
  }
}
