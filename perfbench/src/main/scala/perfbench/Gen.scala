package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
import java.util.{Base64, SplittableRandom}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession

import graft.sources.Kpl

/** Seeded input generator for the relay workloads: Kinesis-shaped shard
  * files of base64 records, each a gzipped Arc content-event envelope or a
  * KPL aggregate of several, built from `events.parquet` rows.
  *
  * Every record draws from its own RNG seeded by (seed, stream, index), so
  * a backlog is the same for the same seed however many threads build it.
  * Corrupt records are planted at fixed rates and counted: a bad gzip
  * stream, a truncated JSON document, and a KPL aggregate whose md5
  * trailer is flipped (its user records are lost, one dead letter). */
object Gen {

  final case class Event(eventId: Long, ts: String, userId: Long, eventType: String, value: Double)

  /** One Kinesis record (one shard-file line) and what it carries:
    * `survivors` are the event ids of its user records the relay's filter
    * keeps. */
  final case class Rec(line: String, userRecords: Int, badGzip: Int, badJson: Int, badMd5: Int,
      survivors: Seq[String] = Nil)

  final case class Planted(badGzip: Long, badJson: Long, badMd5: Long) {
    def deadLetters: Long = badGzip + badJson + badMd5
  }

  final case class Backlog(recs: Array[Rec]) {
    def userRecords: Long = recs.iterator.map(_.userRecords.toLong).sum
    def planted: Planted = Planted(recs.iterator.map(_.badGzip.toLong).sum,
      recs.iterator.map(_.badJson.toLong).sum, recs.iterator.map(_.badMd5.toLong).sum)
    def survivors: Iterator[String] = recs.iterator.flatMap(_.survivors)
  }

  /** The first 20k rows of `events.parquet`, by event id. The timestamp
    * column may be stored as TIMESTAMP, TIMESTAMP_NTZ or nanoseconds read as a
    * long. */
  def loadEvents(spark: SparkSession, fixtureDir: String): Array[Event] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    spark.read.parquet(s"$fixtureDir/events.parquet").where("event_id < 20000")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map { r =>
        val instant = r.get(1) match {
          case t: java.sql.Timestamp => t.toInstant
          case t: java.time.Instant  => t
          case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
          case n: java.lang.Long     => java.time.Instant.ofEpochSecond(0L, n.longValue)
        }
        Event(r.getLong(0), fmt.format(instant), r.getLong(2), r.getString(3), r.getDouble(4))
      }
      .sortBy(_.eventId)
  }

  // Seeded envelope fields. The filter keeps story/video/gallery events
  // with an allowed operation, published, on the main website.
  private val Types      = Array("story", "story", "story", "story", "story", "video", "video", "gallery", "redirect", "author")
  private val Operations = Array("insert", "insert", "update", "update", "update", "update", "update", "delete", "publish-edition")
  private val Websites   = Array("globeandmail", "globeandmail", "globeandmail", "theglobe-investor")
  private val Sections   = Array("news", "business", "opinion", "sports", "arts", "life", "politics", "world")
  private val Words      = ("the arc feed carries every content event of the newsroom and the relay keeps only " +
    "published stories video and galleries for the site while drafts redirects and author pages drop out " +
    "before anything downstream sees them markets rally as rates hold steady council votes on transit plan " +
    "season opener draws record crowd").split(' ')

  private def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9e3779b97f4a7c15L + b
    h = (h ^ (h >>> 31)) * 0xbf58476d1ce4e5b9L + c
    h ^ (h >>> 29)
  }

  /** The Arc envelope JSON for one user record, and whether the relay's
    * filter keeps it. `content_elements` has a seeded length so decoded
    * documents span a few KB, most of it bytes the filter never reads. */
  def envelope(e: Event, rnd: SplittableRandom, uid: String): (String, Boolean) = {
    val typ  = Types(rnd.nextInt(Types.length))
    val op   = Operations(rnd.nextInt(Operations.length))
    val pub  = rnd.nextInt(100) < 85
    val site = Websites(rnd.nextInt(Websites.length))
    val nSec = 1 + rnd.nextInt(3)
    val secs = (0 until nSec).map(_ => Sections(rnd.nextInt(Sections.length))).distinct
    val b = new StringBuilder(4096)
    b ++= s"""{"version":"0.10.7","type":"$typ","operation":"$op","date":"${e.ts}","id":"evt-$uid","""
    b ++= s""""body":{"_id":"doc-${e.userId}","type":"$typ","canonical_url":"/${secs.head}/article-${e.eventId}/","""
    b ++= s""""headlines":{"basic":"${e.eventType} ${e.value} ${Words(rnd.nextInt(Words.length))}"},"""
    b ++= s""""publish_date":"${e.ts}","credits":{"by":[{"name":"author-${e.userId % 97}"}]},"""
    b ++= secs.map(s => s"""{"_id":"/$s","name":"${s.capitalize}"}""").mkString(""""taxonomy":{"sections":[""", ",", "]},")
    b ++= s""""revision":{"published":$pub},"websites":{"$site":{"website_url":"/${secs.head}/article-${e.eventId}/"}},"""
    b ++= """"content_elements":["""
    val paras = 3 + rnd.nextInt(10)
    var p = 0
    while (p < paras) {
      if (p > 0) b += ','
      b ++= s"""{"_id":"ce$p","type":"text","content":""""
      val n = 25 + rnd.nextInt(20)
      var w = 0
      while (w < n) { if (w > 0) b += ' '; b ++= Words(rnd.nextInt(Words.length)); w += 1 }
      b ++= "\"}"
      p += 1
    }
    b ++= "]}}"
    val kept = Set("story", "video", "gallery")(typ) && Set("insert", "update", "delete")(op) && pub &&
      site == "globeandmail"
    (b.result(), kept)
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 3 + 64)
    val gz  = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  private val b64 = Base64.getEncoder

  /** Kinesis record `i` of stream `stream`. */
  def record(events: Array[Event], seed: Long, stream: Long, i: Long): Rec = {
    val rnd = new SplittableRandom(mix(seed, stream, i))
    val base = rnd.nextInt(events.length)
    val kept = Seq.newBuilder[String]
    def user(j: Int): Array[Byte] = {
      val (doc, keep) = envelope(events((base + j) % events.length), rnd, s"$stream-$i-$j")
      if (keep) kept += s"evt-$stream-$i-$j"
      doc.getBytes(UTF_8)
    }
    val u = rnd.nextInt(1000)
    if (u < 10) { // bad gzip: a gzip header followed by bytes that are not a deflate stream
      val junk = new Array[Byte](64 + rnd.nextInt(64))
      var k = 0
      while (k < junk.length) { junk(k) = (0x80 | rnd.nextInt(128)).toByte; k += 1 }
      Rec(b64.encodeToString(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 3) ++ junk), 1, 1, 0, 0)
    } else if (u < 20) { // truncated JSON inside a valid gzip stream
      val doc = envelope(events(base), rnd, s"$stream-$i-0")._1.getBytes(UTF_8)
      Rec(b64.encodeToString(gzip(java.util.Arrays.copyOf(doc, doc.length / 2))), 1, 0, 1, 0)
    } else if (u < 25) { // KPL aggregate with a broken md5 trailer
      val agg = Kpl.aggregate((0 until 2 + rnd.nextInt(3)).map(j =>
        (s"pk$j", gzip(envelope(events((base + j) % events.length), rnd, s"$stream-$i-$j")._1.getBytes(UTF_8)))))
      agg(agg.length - 1) = (agg(agg.length - 1) ^ 0x5a).toByte
      Rec(b64.encodeToString(agg), 0, 0, 0, 1)
    } else if (u < 300) { // KPL aggregate of 2-6 user records
      val n = 2 + rnd.nextInt(5)
      val line = b64.encodeToString(Kpl.aggregate((0 until n).map(j => (s"pk${(i + j) % 8}", gzip(user(j))))))
      Rec(line, n, 0, 0, 0, kept.result())
    } else {
      val line = b64.encodeToString(gzip(user(0)))
      Rec(line, 1, 0, 0, 0, kept.result())
    }
  }

  /** `n` records of `stream`, built on `threads` threads. */
  def backlog(events: Array[Event], seed: Long, stream: Long, n: Int, threads: Int): Backlog = {
    val out  = new Array[Rec](n)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunk = math.max(1, (n + threads * 4 - 1) / (threads * 4))
      val fs = (0 until n by chunk).map { lo =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = lo
            while (i < math.min(n, lo + chunk)) { out(i) = record(events, seed, stream, i.toLong); i += 1 }
          }
        })
      }
      fs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    Backlog(out)
  }

  /** Land one shard file atomically: write a dot-prefixed temp file (the
    * sharded source skips dot files), then rename it to its final name.
    * Names are zero-padded so the sorted listing is the append order. */
  def land(root: String, shard: Int, fileNo: Int, lines: Seq[String]): Unit = {
    val dir = Paths.get(root, s"shard=$shard")
    JFiles.createDirectories(dir)
    val name = f"$fileNo%09d.txt"
    val tmp  = dir.resolve("." + name + ".tmp")
    JFiles.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    JFiles.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write a whole backlog: record i goes to shard i mod `shards`, each
    * shard in files of `perFile` records. */
  def writeBacklog(root: String, b: Backlog, shards: Int, perFile: Int): Unit =
    (0 until shards).foreach { s =>
      val lines = b.recs.indices.filter(_ % shards == s).map(b.recs(_).line)
      lines.grouped(perFile).zipWithIndex.foreach { case (g, k) => land(root, s, k, g) }
    }
}
