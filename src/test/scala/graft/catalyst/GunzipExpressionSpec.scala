package graft.catalyst

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{Decode, DecodeUdf, GzipCodec}

class GunzipExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def gzBytes(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g   = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  test("register() exposes graft_gunzip to SQL, idempotently") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark) // second call must not throw
    Seq(gzBytes("via sql")).toDF("gz").createOrReplaceTempView("graft_gz_test")
    val out = spark.sql("SELECT decode(graft_gunzip(gz), 'UTF-8') AS rt FROM graft_gz_test").collect()
    assert(out.head.getString(0) === "via sql")
  }

  test("native expression matches the UDF on valid, corrupt, and null input") {
    GraftExtensions.register(spark)
    val df = Seq("payload one", "payload two", "x" * 5000).toDF("s")
      .withColumn("gz", Decode.gzip(encode(col("s"), "UTF-8")))
      .withColumn("corrupt", encode(col("s"), "UTF-8")) // not gzip
      .withColumn("nul", lit(null).cast("binary"))
    val out = df.select(
      decode(call_function("graft_gunzip", col("gz")), "UTF-8").as("native"),
      decode(DecodeUdf.gunzip(col("gz")), "UTF-8").as("viaUdf"),
      call_function("graft_gunzip", col("corrupt")).as("corrupt_out"),
      call_function("graft_gunzip", col("nul")).as("null_out"),
      col("s")
    ).collect()
    out.foreach { r =>
      assert(r.getString(0) === r.getString(4)) // native roundtrip
      assert(r.getString(0) === r.getString(1)) // matches UDF
      assert(r.isNullAt(2), "corrupt gzip must yield null, not throw")
      assert(r.isNullAt(3))
    }
  }

  test("interpreted eval path: valid → bytes, corrupt → null") {
    val ok = GunzipExpression(Literal(gzBytes("interp"), BinaryType)).eval(null)
    assert(new String(ok.asInstanceOf[Array[Byte]], "UTF-8") === "interp")
    val bad = GunzipExpression(Literal("not gzip".getBytes("UTF-8"), BinaryType)).eval(null)
    assert(bad == null)
    assert(GzipCodec.gunzipOrNull(null) == null)
  }

  test("expression runs inside whole-stage codegen (no UDF boundary)") {
    GraftExtensions.register(spark)
    // A literal frame constant-folds to LocalTableScan; go through a real
    // parquet scan so the generated-code path actually executes.
    val dir = java.nio.file.Files.createTempDirectory("graft_gz_codegen").toString
    Seq(Tuple1(gzBytes("wsc"))).toDF("gz").write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir).select(call_function("graft_gunzip", col("gz")).as("o"))
    // '*(n)' prefixes mark WholeStageCodegen spans in the simple plan string
    val planStr = scanned.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_gunzip""".r.findFirstIn(planStr).isDefined, planStr)
    val out = scanned.select(decode(col("o"), "UTF-8")).collect()
    assert(out.head.getString(0) === "wsc")
  }
}
