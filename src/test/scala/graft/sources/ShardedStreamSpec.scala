package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.sharded.{ShardedOffset, ShardedStreamProvider}

/** The DSv2 sharded-stream connector (A1): batch + micro-batch reads,
  * per-shard offset resume from a checkpoint, and ReadLimit admission
  * control — driven through the public readStream/read surface only. */
class ShardedStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fmt = classOf[ShardedStreamProvider].getName

  /** Writes `files` (per shard) of newline-delimited payloads. */
  private def writeShards(root: Path, shards: Map[Int, Seq[Seq[String]]]): Unit =
    shards.foreach { case (shard, files) =>
      val dir = root.resolve(s"shard=$shard")
      Files.createDirectories(dir)
      files.zipWithIndex.foreach { case (lines, i) =>
        Files.write(dir.resolve(f"part-$i%05d.txt"), lines.mkString("\n").getBytes("UTF-8"))
      }
    }

  test("offset JSON round-trips canonically") {
    val o = ShardedOffset(Map(1 -> 40L, 0 -> 12L))
    assert(o.json() === """{"0":12,"1":40}""")
    assert(ShardedOffset.fromJson(o.json()) === o)
    assert(ShardedOffset.fromJson("{}") === ShardedOffset(Map.empty))
  }

  test("batch read: every shard, every file, seq dense per shard") {
    val root = Files.createTempDirectory("sharded_batch")
    writeShards(root, Map(
      0 -> Seq(Seq("a0", "a1"), Seq("a2")),
      1 -> Seq(Seq("b0", "b1", "b2", "b3"))
    ))
    val rows = spark.read.format(fmt).option("path", root.toString).load()
      .as[(Int, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(rows.map(_._3).toSeq === Seq("a0", "a1", "a2", "b0", "b1", "b2", "b3"))
    assert(rows.filter(_._1 === 0).map(_._2).toSeq === Seq(0L, 1L, 2L))
    assert(rows.filter(_._1 === 1).map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("micro-batch stream reads all shards; checkpoint resume reads ONLY new data") {
    val root = Files.createTempDirectory("sharded_stream")
    val out  = Files.createTempDirectory("sharded_out").toString
    val ckpt = Files.createTempDirectory("sharded_ckpt").toString
    writeShards(root, Map(
      0 -> Seq(Seq("a0", "a1")),
      1 -> Seq(Seq("b0"))
    ))
    def runOnce(): Unit = {
      val q = spark.readStream.format(fmt).option("path", root.toString).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() === 3)

    // New file lands in shard 0 (payloads a2, a3) + a brand-new shard 2.
    Files.write(
      root.resolve("shard=0").resolve("part-00001.txt"),
      "a2\na3".getBytes("UTF-8"))
    writeShards(root, Map(2 -> Seq(Seq("c0"))))
    runOnce()
    val rows = spark.read.parquet(out).as[(Int, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(rows.length === 6, s"resume re-read or dropped rows: ${rows.toSeq}")
    assert(rows.map(_._3).toSeq === Seq("a0", "a1", "a2", "a3", "b0", "c0"))
    // seq numbers continue across restarts — the shard-0 tail got 2 and 3.
    assert(rows.filter(_._1 === 0).map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("admission control: maxRecordsPerTrigger splits the backlog into bounded micro-batches") {
    val root = Files.createTempDirectory("sharded_limit")
    val out  = Files.createTempDirectory("sharded_limit_out").toString
    val ckpt = Files.createTempDirectory("sharded_limit_ckpt").toString
    writeShards(root, Map(
      0 -> Seq(Seq("a0", "a1", "a2", "a3", "a4")),
      1 -> Seq(Seq("b0", "b1", "b2", "b3", "b4"))
    ))
    val q = spark.readStream.format(fmt)
      .option("path", root.toString)
      .option("maxRecordsPerTrigger", "4")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === 10, "admission control lost rows")
    // 10 records at <=4/batch => at least 3 data-carrying micro-batches in
    // the checkpoint's offset log.
    val batches = new java.io.File(s"$ckpt/offsets").listFiles().count(!_.getName.startsWith("."))
    assert(batches >= 3, s"expected >=3 micro-batches, saw $batches")
  }

  test("reshard: children are admitted only after their parents drain; " +
      "checkpoint resume crosses split AND merge exactly-once, per-parent order preserved") {
    val root = Files.createTempDirectory("sharded_reshard")
    val ckpt = Files.createTempDirectory("sharded_reshard_ckpt").toString
    // Parent shard 0 with 3 records, then a SPLIT into children 1 and 2
    // whose data already exists BEFORE the stream starts — the gate, not
    // arrival time, must sequence parent before children.
    writeShards(root, Map(0 -> Seq(Seq("p0", "p1", "p2"))))
    graft.sources.sharded.ShardedStream.reshard(root.toString, Seq(0), Seq(1, 2))
    writeShards(root, Map(1 -> Seq(Seq("c1a", "c1b")), 2 -> Seq(Seq("c2a"))))

    val seen = scala.collection.mutable.ListBuffer.empty[(Long, Int, String)]
    def drain(): Unit = {
      val q = spark.readStream.format(fmt)
        .option("path", root.toString)
        .option("maxRecordsPerTrigger", "2") // forces the boundary mid-run
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.synchronized {
            seen ++= df.collect().map(r => (id, r.getInt(0), r.getString(2)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.map(_._3).sorted.toSeq === Seq("c1a", "c1b", "c2a", "p0", "p1", "p2"),
      "reshard lost or duplicated records")
    // per-parent order: every parent record's batch precedes every child's
    val lastParentBatch = seen.filter(_._2 == 0).map(_._1).max
    val firstChildBatch = seen.filter(_._2 != 0).map(_._1).min
    assert(lastParentBatch < firstChildBatch,
      s"a micro-batch mixed the parent's tail with child data: $seen")

    // MERGE children 1+2 into shard 3, append, RESUME from the checkpoint
    graft.sources.sharded.ShardedStream.reshard(root.toString, Seq(1, 2), Seq(3))
    writeShards(root, Map(3 -> Seq(Seq("m0", "m1"))))
    drain()
    val all = seen.map(_._3).sorted.toSeq
    assert(all === Seq("c1a", "c1b", "c2a", "m0", "m1", "p0", "p1", "p2"),
      "resume across the merge re-read or dropped records")
    assert(seen.filter(_._2 == 3).map(_._1).min > seen.filter(_._2 < 3).map(_._1).max,
      "merge child admitted before both parents drained")
  }

  test("stream composes with the decode pipeline (payload -> typed filter)") {
    val root = Files.createTempDirectory("sharded_compose")
    writeShards(root, Map(
      0 -> Seq(Seq("""{"k": 5}""", """{"k": 99}""")),
      1 -> Seq(Seq("""{"k": 50}""", "not-json"))
    ))
    implicit val sqlCtx = spark.sqlContext
    val q = spark.readStream.format(fmt).option("path", root.toString).load()
      .select(col("shard"), col("seq"),
        from_json(col("payload"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"))
      .filter(col("k") > 10)
      .writeStream.format("memory").queryName("sharded_decoded")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ks = spark.table("sharded_decoded").select("k").as[Long].collect().sorted
    assert(ks.toSeq === Seq(50L, 99L)) // 5 filtered, not-json tolerated as null
  }

  test("readers open shard files with the session's Hadoop conf, batch and streaming") {
    // A scheme only the session's Hadoop conf knows; with the FileSystem
    // cache off, every open resolves the scheme from the conf it is given,
    // so a reader that builds a default Configuration cannot open a file.
    val root = Files.createTempDirectory("sharded_session_conf")
    writeShards(root, Map(0 -> Seq(Seq("a0", "a1")), 1 -> Seq(Seq("b0"))))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftsession.impl", classOf[SessionSchemeFs].getName)
    hc.setBoolean("fs.graftsession.impl.disable.cache", true)
    try {
      val path = s"graftsession://${root.toAbsolutePath}"
      val batch = spark.read.format(fmt).option("path", path).load()
        .select("payload").as[String].collect().sorted
      assert(batch.toSeq === Seq("a0", "a1", "b0"))
      val q = spark.readStream.format(fmt).option("path", path).load()
        .writeStream.format("memory").queryName("sharded_session_conf")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table("sharded_session_conf").select("payload").as[String].collect().sorted.toSeq ===
        Seq("a0", "a1", "b0"))
    } finally {
      hc.unset("fs.graftsession.impl")
      hc.unset("fs.graftsession.impl.disable.cache")
    }
  }
}

/** The local filesystem under its own `graftsession` scheme, which no
  * default Hadoop configuration registers. */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def getScheme: String = "graftsession"
}
