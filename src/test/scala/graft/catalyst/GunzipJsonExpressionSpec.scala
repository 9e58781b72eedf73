package graft.catalyst

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fused decode [[GunzipJsonExpression]] against the chain it replaced,
  * written out: `from_json(decode(graft_gunzip(x), 'UTF-8'))` behind the
  * undecodable-envelope guard. */
class GunzipJsonExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = graft.operators.ArcPipeline.envelopeSchema
  private val fused  = call_function("graft_gunzip_json", col("x"), lit(schema.toDDL))
  private val parent = {
    val json = decode(call_function("graft_gunzip", col("x")), "UTF-8")
    val undecodable = struct(schema.fields.toIndexedSeq.map(f =>
      (if (f.name == "_corrupt") lit("UNDECODABLE") else lit(null).cast(f.dataType)).as(f.name)): _*)
    when(json.isNull, undecodable).otherwise(
      from_json(json, schema, Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
  }

  private val valid =
    """{"version":"0.10.7","type":"story","operation":"insert","date":"2024-03-01T10:00:00Z",
      |"id":"e1","body":{"_id":"d1","type":"story","canonical_url":"/x/1",
      |"headlines":{"basic":"été 你好"},"credits":{"by":[{"name":"a"},{"name":"b"}]},
      |"taxonomy":{"sections":[{"_id":"news","name":"News"}]},"revision":{"published":true},
      |"websites":{"site-a":{"website_url":"/x/1"}},"content_elements":[{"skip":[1,2,{"x":null}]}]}}"""
      .stripMargin.replaceAll("\n", "")
  private val docs: Seq[(String, String)] = Seq(
    "valid" -> valid,
    "sparse" -> """{"type":"video","body":{"revision":{"published":false}}}""",
    "wrong field types" -> """{"type":5,"operation":true,"body":{"revision":{"published":"yes"}}}""",
    "truncated" -> valid.take(valid.length / 2),
    "empty" -> "",
    "blank" -> " \n\t ",
    "array of scalars" -> "[1,2]",
    "array of objects" -> """[{"type":"story"}]""",
    "string" -> "\"story\"",
    "number" -> "42",
    "json null" -> "null",
    "trailing text" -> (valid + " tail"),
    "two documents" -> (valid + valid),
    "not json" -> "this is not json at all {{{")

  /** Every gzip class around two documents, and every document class in a
    * plain member. */
  private def inputs: Seq[(String, Array[Byte])] =
    graft.functions.GzipCorpus.cases(Seq(valid.getBytes("UTF-8"), "[1,2]".getBytes("UTF-8")), seed = 5) ++
      docs.map { case (n, d) => s"doc: $n" -> graft.functions.GzipCorpus.member(d.getBytes("UTF-8")) } :+
      ("null input" -> null)

  private def compare(frame: org.apache.spark.sql.DataFrame): Unit =
    frame.select(col("label"), fused.as("fused"), parent.as("parent")).collect().foreach { r =>
      assert(r.get(1) == r.get(2), s"${r.getString(0)}: fused ${r.get(1)} vs parent ${r.get(2)}")
    }

  test("graft_gunzip_json equals from_json(decode(graft_gunzip(x))) on every gzip and document class") {
    GraftExtensions.register(spark)
    val df = inputs.toDF("label", "x")
    compare(df) // a local relation: the interpreted path
    val dir = java.nio.file.Files.createTempDirectory("graft_gunzip_json").toString
    df.write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    val plan = scanned.select(fused).queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_gunzip_json""".r.findFirstIn(plan).isDefined, plan)
    compare(scanned) // a parquet scan: the generated-code path
  }

  test("invalid UTF-8 in a document is a corrupt record, where the parent chain failed the query") {
    GraftExtensions.register(spark)
    val latin1 = """{"type":"story","body":{"headlines":{"basic":"caf""".getBytes("UTF-8") ++
      Array(0xE9.toByte) ++ """"}}}""".getBytes("UTF-8")
    val df = Seq("latin-1" -> graft.functions.GzipCorpus.member(latin1)).toDF("label", "x")
    val e = intercept[Exception](df.select(parent).collect())
    assert(e.getMessage.contains("MALFORMED_CHARACTER_CODING"), e.getMessage)
    val r = df.select(fused.as("e")).select("e.*").collect().head
    assert(r.getAs[String]("_corrupt") === new String(latin1, "UTF-8"))
  }
}
