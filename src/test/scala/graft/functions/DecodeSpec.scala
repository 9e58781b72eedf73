package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DecodeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gzip → gunzip roundtrips arbitrary strings") {
    val df = Seq("", "hello", "a" * 10000, "unicode: été 你好").toDF("s")
    val rt = df
      .select(decode(DecodeUdf.gunzip(Decode.gzip(encode(col("s"), "UTF-8"))), "UTF-8").as("rt"), col("s"))
      .collect()
    rt.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("gunzip of non-gzip bytes yields null (A8 tolerance)") {
    val df  = Seq("definitely not gzip").toDF("s")
    val out = df.select(DecodeUdf.gunzip(encode(col("s"), "UTF-8")).as("b")).collect()
    assert(out.head.isNullAt(0))
  }

  test("base64 roundtrip + full Kinesis payload decode path") {
    val payload = """{"type":"story","operation":"insert"}"""
    val df = Seq(payload).toDF("json")
    val b64 = df.select(base64(Decode.gzip(encode(col("json"), "UTF-8"))).as("b64"))
    val out = b64.select(DecodeUdf.decodePayload(col("b64")).as("decoded")).collect()
    assert(out.head.getString(0) === payload)
  }
}
