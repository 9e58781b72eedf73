package graft.operators

import java.util.Base64

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ArcPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def gz(s: String, charset: String = "UTF-8"): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g   = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes(charset)); g.close()
    bos.toByteArray
  }
  private def payload(json: String): String = Base64.getEncoder.encodeToString(gz(json))

  private def envelope(
      id: String,
      typ: String = "story",
      op: String = "insert",
      published: Boolean = true,
      section: String = "news",
      website: String = "site-a"
  ): String =
    s"""{"version":"0.10.7","type":"$typ","operation":"$op","date":"2024-03-01T10:00:00Z","id":"$id",
        "body":{"_id":"doc-$id","type":"$typ","canonical_url":"/x/$id",
          "headlines":{"basic":"headline $id"},
          "credits":{"by":[{"name":"a reporter"}]},
          "taxonomy":{"sections":[{"_id":"$section","name":"$section"}]},
          "revision":{"published":$published},
          "websites":{"$website":{"website_url":"/x/$id"}}}}""".stripMargin.replaceAll("\n\\s*", "")

  private val cfg = ArcPipeline.FilterConfig(
    allowedTypes = Seq("story", "video"),
    sectionAllowlist = Seq("news", "sports"),
    website = Some("site-a")
  )

  test("end-to-end: decode → filter → project keeps only qualifying events") {
    val rows = Seq(
      payload(envelope("1")),                          // keep
      payload(envelope("2", typ = "redirect")),        // wrong type
      payload(envelope("3", published = false)),       // unpublished
      payload(envelope("4", section = "opinion")),     // wrong section
      payload(envelope("5", website = "site-b")),      // wrong website
      payload(envelope("6", op = "update")),           // keep
      "!!!not-base64-gzip!!!",                         // undecodable → DLQ
      payload("this is not json at all {{{")           // bad json → DLQ
    ).toDF("payload")

    val (out, dlq) = ArcPipeline.run(rows, col("payload"), cfg)
    val kept = out.select("event_id", "headline", "section_ids", "authors").collect()
    assert(kept.map(_.getString(0)).sorted === Array("1", "6"))
    assert(kept.head.getString(1).startsWith("headline"))
    assert(kept.head.getSeq[String](2) === Seq("news"))
    assert(kept.head.getSeq[String](3) === Seq("a reporter"))
    assert(dlq.count() === 2)
    assert(dlq.filter(col("error") === "UNDECODABLE").count() === 1)
  }

  test("projection flattens nested ANS paths with null tolerance") {
    val sparse = payload("""{"type":"story","operation":"insert","id":"s1",
      "body":{"_id":"d1","revision":{"published":true}}}""".replaceAll("\n\\s*", ""))
    val (out, dlq) = ArcPipeline.run(Seq(sparse).toDF("payload"), col("payload"),
      ArcPipeline.FilterConfig(requirePublished = true))
    val row = out.collect().head
    assert(row.getAs[String]("headline") == null) // absent → null, .get tolerance
    assert(row.getAs[String]("doc_id") === "d1")
    assert(dlq.count() === 0)
  }

  test("streaming: identical pipeline incrementalizes over micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val (out, _) = ArcPipeline.run(mem.toDF().withColumnRenamed("value", "payload"), col("payload"), cfg)
    val q = out.writeStream.format("memory").queryName("t_arc").outputMode("append").start()
    try {
      mem.addData(payload(envelope("10")), payload(envelope("11", typ = "image")))
      q.processAllAvailable()
      mem.addData(payload(envelope("12")))
      q.processAllAvailable()
      val ids = spark.table("t_arc").select("event_id").as[String].collect().sorted
      assert(ids === Array("10", "12"))
    } finally q.stop()
  }

  test("runRecords: Kinesis-shaped binary-payload records flow end to end") {
    val recs = Seq(
      (gz(envelope("21")), "doc-21", "seq-1"),
      (gz(envelope("22", typ = "redirect")), "doc-22", "seq-2"),
      ("junk".getBytes("UTF-8"), "doc-23", "seq-3")
    ).toDF("payload", "partition_key", "sequence_number")
    val (out, dlq) = ArcPipeline.runRecords(recs, cfg)
    assert(out.select("event_id").as[String].collect().sorted === Array("21"))
    // dead letters keep run()'s schema: payload is the base64 text of the
    // original bytes, error the decode failure
    val dead = dlq.collect()
    assert(dlq.columns.toSeq === Seq("payload", "error"))
    assert(dead.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq((Base64.getEncoder.encodeToString("junk".getBytes("UTF-8")), "UNDECODABLE")))
  }

  test("observe(): decode metrics count totals and corruptions exactly once") {
    val rows = Seq(payload(envelope("1")), "garbage one", "garbage two").toDF("payload")
    val obs  = new org.apache.spark.sql.Observation(s"arc_${System.nanoTime()}")
    val (out, _) = ArcPipeline.run(rows, col("payload"), cfg, observation = Some(obs))
    out.collect() // action triggers the observation
    val m = obs.get
    assert(m("total_records") === 3L)
    assert(m("corrupt_records") === 2L)
  }

  test("fuzz: random payload corruption — every record decodes or dead-letters, none crash") {
    val rnd  = new scala.util.Random(42)
    val good = (1 to 40).map(i => payload(envelope(i.toString)))
    val corrupted = good.map { p =>
      rnd.nextInt(4) match {
        case 0 => p.substring(0, p.length / 2)              // truncated base64
        case 1 => "@@@" + p                                  // leading garbage
        case 2 => new String(rnd.nextBytes(24).map(b => (math.abs(b % 26) + 'a').toChar)) // noise
        case 3 => payload(envelope(rnd.nextInt().toString).replace("{", "[")) // broken json
      }
    }
    val all = (good ++ corrupted).toDF("payload")
    val decoded = ArcPipeline.decodeEnvelope(all, col("payload"))
    val corrupt = decoded.filter(col("event._corrupt").isNotNull).count()
    val valid   = decoded.filter(col("event._corrupt").isNull).count()
    assert(corrupt + valid === 80L, "records lost or duplicated in decode")
    assert(valid >= 40L, "valid records misclassified")
    val (out, dlq) = ArcPipeline.run(all, col("payload"), cfg)
    assert(out.count() + dlq.count() <= 80L)
    assert(dlq.count() === corrupt)

    // runRecords leg: the same records as the raw bytes a transport
    // delivers (text that is not base64 arrives as its own bytes). Decoded
    // without the base64 hop they classify as run() classifies their
    // base64 text, and the observation counts each record once.
    val bytes = (good ++ corrupted).map(p =>
      scala.util.Try(Base64.getDecoder.decode(p)).getOrElse(p.getBytes("UTF-8")))
    val inputs = bytes.map(Base64.getEncoder.encodeToString)
    val binCorrupt = ArcPipeline.decodeEnvelope(inputs.toDF("payload"), col("payload"))
      .filter(col("event._corrupt").isNotNull).count()
    assert(binCorrupt >= 40L, "every corrupted record must stay corrupt as bytes")
    val obs = new org.apache.spark.sql.Observation(s"arc_fuzz_${System.nanoTime()}")
    val (rOut, rDlq) = ArcPipeline.runRecords(bytes.toDF("payload"), cfg, observation = Some(obs))
    val kept = rOut.count()
    assert(obs.get("total_records") === 80L)
    assert(obs.get("corrupt_records") === binCorrupt)
    val dead = rDlq.select("payload").as[String].collect()
    assert(dead.length.toLong === binCorrupt)
    assert(kept + dead.length <= 80L)
    // Spark's base64() wraps long output MIME-style, so compare decoded bytes
    val inputBytes = bytes.map(_.toSeq).toSet
    assert(dead.forall(d => inputBytes.contains(Base64.getMimeDecoder.decode(d).toSeq)),
      "dead-letter payload is not the base64 of an input record")
  }

  test("invalid UTF-8 in one payload dead-letters that record, batch and streaming; the rest survive") {
    // a Latin-1 é (0xE9) in the headline: the document is not UTF-8
    val bad = gz(envelope("31").replace("headline 31", "caf\u00e9"), "ISO-8859-1")
    val good = Seq(gz(envelope("30")), gz(envelope("32", op = "update")))
    val records = good.head +: bad +: good.tail
    def verdicts(out: org.apache.spark.sql.DataFrame, dlq: org.apache.spark.sql.DataFrame) = {
      assert(out.select("event_id").as[String].collect().sorted === Array("30", "32"))
      val dead = dlq.collect()
      assert(dead.length === 1)
      assert(Base64.getMimeDecoder.decode(dead.head.getString(0)).toSeq === bad.toSeq)
      assert(dead.head.getString(1) != null && dead.head.getString(1) != "UNDECODABLE")
    }
    val (out, dlq) = ArcPipeline.run(records.map(Base64.getEncoder.encodeToString).toDF("payload"), col("payload"), cfg)
    verdicts(out, dlq)
    val (rOut, rDlq) = ArcPipeline.runRecords(records.toDF("payload"), cfg)
    verdicts(rOut, rDlq)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val (sOut, sDlq) = ArcPipeline.runRecords(mem.toDF().withColumnRenamed("value", "payload"), cfg)
    val qs = Seq(sOut -> "t_arc_utf8_out", sDlq -> "t_arc_utf8_dlq").map { case (df, name) =>
      df.writeStream.format("memory").queryName(name).outputMode("append").start()
    }
    try {
      mem.addData(records: _*)
      qs.foreach(_.processAllAvailable())
      verdicts(spark.table("t_arc_utf8_out"), spark.table("t_arc_utf8_dlq"))
    } finally qs.foreach(_.stop())
  }

  test("partitioned sink + dead-letter routing writes both sides") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val rows = Seq(payload(envelope("1")), payload(envelope("2", op = "update")), "garbage").toDF("payload")
    val (out, dlq) = ArcPipeline.run(rows, col("payload"), cfg)
    graft.sources.Sinks.writePartitioned(out, s"$dir/main", "operation")
    dlq.write.mode("overwrite").parquet(s"$dir/dlq")
    val back = spark.read.parquet(s"$dir/main")
    assert(back.count() === 2)
    assert(back.select("operation").distinct().count() === 2)
    assert(spark.read.parquet(s"$dir/dlq").count() === 1)
    // partition layout prunable: operation=insert directory exists
    assert(new java.io.File(s"$dir/main/operation=insert").exists())
  }
}
