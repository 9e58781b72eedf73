package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Structured Streaming semantics (SURVEY.md §2.B) over MemoryStream:
  * windowed aggregation, watermark late-data drops, dedup, stream-static
  * join, and the flatMapGroupsWithState sessionizer. Each stateful result
  * is cross-checked against its batch twin on the same rows. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch1 = Seq(
    Ev(0, ts("2024-01-01 00:05:00"), 1, "click", 10.0),
    Ev(1, ts("2024-01-01 00:20:00"), 1, "click", 20.0),
    Ev(2, ts("2024-01-01 01:10:00"), 2, "view", 30.0)
  )
  private val batch2 = Seq(
    Ev(3, ts("2024-01-01 02:00:00"), 2, "view", 40.0),
    Ev(4, ts("2024-01-01 03:30:00"), 1, "click", 50.0)
  )

  test("B2: streaming tumbling window agg equals its batch twin (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingCounts(mem.toDF(), col("ts"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_b2").outputMode("complete").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("t_b2")
        .select("window_start", "event_type", "cnt", "val_sum")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val batchTwin = StreamOps.tumblingCounts((batch1 ++ batch2).toDF(), col("ts"), "1 hour")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(streamed === batchTwin)
    } finally q.stop()
  }

  test("B3: streaming sliding window equals its batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.slidingCounts(mem.toDF(), col("ts"), "2 hours", "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_b3").outputMode("complete").start()
    try {
      mem.addData(batch1 ++ batch2: _*); q.processAllAvailable()
      val streamed = spark.table("t_b3").as[(Timestamp, Long)].collect().toSet
      val twin = StreamOps.slidingCounts((batch1 ++ batch2).toDF(), col("ts"), "2 hours", "1 hour")
        .as[(Timestamp, Long)].collect().toSet
      assert(streamed === twin)
      // every event lands in exactly 2 windows
      assert(streamed.toSeq.map(_._2).sum === 2L * (batch1.length + batch2.length))
    } finally q.stop()
  }

  test("B4: streaming session window emits gap-closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.sessionCounts(
      StreamOps.withLateness(mem.toDF(), "ts", "10 minutes"),
      col("ts"), col("user_id"), "30 minutes")
    val q = agg.writeStream.format("memory").queryName("t_b4").outputMode("append").start()
    try {
      mem.addData(
        Ev(0, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 00:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // event far ahead closes the session via watermark
      mem.addData(Ev(2, ts("2024-01-01 06:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("t_b4")
        .select("user_id", "session_start", "cnt").as[(Long, Timestamp, Long)].collect()
      val first = sessions.find(_._2 == ts("2024-01-01 00:00:00"))
      assert(first.exists(_._3 == 2L), s"expected closed 2-event session: ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("B11: streaming health monitor equals its batch twin on closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // synthesize the raw-payload column: every 3rd event malformed
    def withRaw(df: org.apache.spark.sql.DataFrame) = df.withColumn(
      "raw",
      when(col("event_id") % 3 === 0, lit("x{"))
        .otherwise(concat(lit("{\"k\":"), col("event_id"), lit("}"))))
    val closers = Seq(
      Ev(99, ts("2024-01-01 09:00:00"), 1, "click", 1.0),
      Ev(100, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
    val agg = StreamOps.streamHealth(
      StreamOps.withLateness(withRaw(mem.toDF()), "ts", "30 minutes"),
      col("ts"), col("user_id") % 2, col("raw"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_b11").outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(closers(0)); q.processAllAvailable()
      mem.addData(closers(1)); q.processAllAvailable()
      val streamed = spark.table("t_b11")
        .select("window_start", "shard", "cnt", "malformed_cnt", "max_ts")
        .as[(Timestamp, Long, Long, Long, Timestamp)].collect().toSet
      val batchTwin = StreamOps.streamHealth(
        withRaw((batch1 ++ closers).toDF()),
        col("ts"), col("user_id") % 2, col("raw"), "1 hour")
        .select("window_start", "shard", "cnt", "malformed_cnt", "max_ts")
        .as[(Timestamp, Long, Long, Long, Timestamp)].collect().toSet
      assert(streamed.nonEmpty, "no windows closed")
      assert(streamed.subsetOf(batchTwin), s"streamed $streamed not in batch twin $batchTwin")
      // hour-0 windows (events 0,1: users 1/shard 1; event 0 malformed) closed
      assert(streamed.contains((ts("2024-01-01 00:00:00"), 1L, 2L, 1L, ts("2024-01-01 00:20:00"))))
    } finally q.stop()
  }

  test("B1/B6: watermark drops events later than the lateness bound") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps
      .tumblingCounts(StreamOps.withLateness(mem.toDF(), "ts", "30 minutes"), col("ts"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_b6").outputMode("append").start()
    try {
      mem.addData(Ev(0, ts("2024-01-01 00:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past hour 0 (max event time 05:00 → wm 04:30)
      mem.addData(Ev(1, ts("2024-01-01 05:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // this event is 4.5h late → must be dropped, not resurrect hour 0
      mem.addData(Ev(2, ts("2024-01-01 00:15:00"), 1, "click", 99.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts("2024-01-01 07:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("t_b6").select("window_start", "cnt").as[(Timestamp, Long)].collect().toMap
      assert(rows.get(ts("2024-01-01 00:00:00")).contains(1L), s"late event leaked into closed window: $rows")
    } finally q.stop()
  }

  test("B5: streaming dedup emits each key once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dd = StreamOps.dedupByKey(
      StreamOps.withLateness(mem.toDF(), "ts", "1 hour"), Seq("event_id"))
    val q = dd.writeStream.format("memory").queryName("t_b5").outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch1: _*); q.processAllAvailable() // exact redelivery (Kinesis at-least-once)
      assert(spark.table("t_b5").count() === batch1.length.toLong)
    } finally q.stop()
  }

  test("B8: stream-static join enriches against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val mem = MemoryStream[Ev]
    val joined = StreamOps.enrich(mem.toDF(), dim, col("user_id") === col("uid"))
    val q = joined.writeStream.format("memory").queryName("t_b8").outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      val tiers = spark.table("t_b8").select("event_id", "tier").as[(Long, String)].collect().toMap
      assert(tiers === Map(0L -> "gold", 1L -> "gold", 2L -> "silver"))
    } finally q.stop()
  }

  test("B7: flatMapGroupsWithState sessionizer closes sessions on gap timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.SessionEvent]
    val sessions = StreamOps.sessionize(
      mem.toDS().withWatermark("ts", "10 minutes").as[StreamOps.SessionEvent],
      gapMs = 30 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("t_b7").outputMode("append").start()
    try {
      mem.addData(
        StreamOps.SessionEvent(1, ts("2024-01-01 00:00:00"), 1.0),
        StreamOps.SessionEvent(1, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // jump event time far ahead → watermark passes session timeout
      mem.addData(StreamOps.SessionEvent(2, ts("2024-01-01 06:00:00"), 5.0))
      q.processAllAvailable()
      mem.addData(StreamOps.SessionEvent(2, ts("2024-01-01 12:00:00"), 5.0))
      q.processAllAvailable()
      val out = spark.table("t_b7").as[StreamOps.SessionOut].collect()
      val u1 = out.filter(_.user_id == 1)
      assert(u1.length === 1, s"expected one closed session for user 1: ${out.mkString(",")}")
      assert(u1.head.count === 2 && u1.head.valueSum === 3.0)
      assert(u1.head.start === ts("2024-01-01 00:00:00"))
    } finally q.stop()
  }

  test("B7 CEP: click→view→purchase sequence detected only within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.TypedEvent]
    val matches = StreamOps.detectSequence(
      mem.toDS().withWatermark("ts", "1 hour").as[StreamOps.TypedEvent],
      pattern = Seq("click", "view", "purchase"),
      withinMs = 30 * 60 * 1000L)
    val q = matches.writeStream.format("memory").queryName("t_cep").outputMode("append").start()
    try {
      mem.addData(
        // user 1: full sequence with an intervening error event → match
        StreamOps.TypedEvent(1, ts("2024-01-01 10:00:00"), "click"),
        StreamOps.TypedEvent(1, ts("2024-01-01 10:05:00"), "error"),
        StreamOps.TypedEvent(1, ts("2024-01-01 10:10:00"), "view"),
        StreamOps.TypedEvent(1, ts("2024-01-01 10:20:00"), "purchase"),
        // user 2: sequence straddles the 30-minute bound → no match
        StreamOps.TypedEvent(2, ts("2024-01-01 10:00:00"), "click"),
        StreamOps.TypedEvent(2, ts("2024-01-01 10:10:00"), "view"),
        StreamOps.TypedEvent(2, ts("2024-01-01 10:45:00"), "purchase"),
        // user 3: wrong order → no match
        StreamOps.TypedEvent(3, ts("2024-01-01 10:00:00"), "purchase"),
        StreamOps.TypedEvent(3, ts("2024-01-01 10:01:00"), "view"),
        StreamOps.TypedEvent(3, ts("2024-01-01 10:02:00"), "click"))
      q.processAllAvailable()
      val out = spark.table("t_cep").as[StreamOps.SeqMatch].collect()
      assert(out.map(_.user_id).toSet === Set(1L), out.mkString(","))
      assert(out.head.start === ts("2024-01-01 10:00:00"))
      assert(out.head.end === ts("2024-01-01 10:20:00"))
      // a second full sequence for user 1 in a later batch → second match
      mem.addData(
        StreamOps.TypedEvent(1, ts("2024-01-01 11:00:00"), "click"),
        StreamOps.TypedEvent(1, ts("2024-01-01 11:05:00"), "view"),
        StreamOps.TypedEvent(1, ts("2024-01-01 11:06:00"), "purchase"))
      q.processAllAvailable()
      assert(spark.table("t_cep").count() === 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to purchases within the window") {
    implicit val sqlCtx = spark.sqlContext
    case class Click(user: Long, click_ts: Timestamp)
    val clicks    = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val l = clicks.toDF().toDF("cu", "click_ts")
    val r = purchases.toDF().toDF("pu", "purchase_ts")
    val joined = StreamOps.streamStreamIntervalJoin(
      l, r, "click_ts", "purchase_ts", lateness = "1 hour", window = "30 MINUTES",
      keyCond = col("cu") === col("pu"))
    val q = joined.writeStream.format("memory").queryName("t_ssj").outputMode("append").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:10:00")), // within 30 min → match
        (2L, ts("2024-01-01 11:30:00"))  // 90 min later → no match
      )
      q.processAllAvailable()
      val matches = spark.table("t_ssj").select("cu").as[Long].collect().toSet
      assert(matches === Set(1L), s"got $matches")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits null rows once the watermark proves no match") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val l = clicks.toDF().toDF("cu", "click_ts")
    val r = purchases.toDF().toDF("pu", "purchase_ts")
    val joined = StreamOps.streamStreamIntervalJoinLeftOuter(
      l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "30 MINUTES",
      keyCond = col("cu") === col("pu"))
    val q = joined.writeStream.format("memory").queryName("t_ssj_lo").outputMode("append").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData((1L, ts("2024-01-01 10:10:00"))) // only user 1 converts
      q.processAllAvailable()
      // advance both watermarks far past 10:30 + lateness so user 2's
      // match window is provably closed
      clicks.addData((9L, ts("2024-01-01 12:00:00")))
      purchases.addData((8L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      clicks.addData((9L, ts("2024-01-01 13:00:00"))) // one more batch to flush outer results
      purchases.addData((8L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val rows = spark.table("t_ssj_lo")
        .select(col("cu"), col("pu")).collect()
        .map(r0 => (r0.getLong(0), if (r0.isNullAt(1)) None else Some(r0.getLong(1))))
      assert(rows.contains((1L, Some(1L))), s"matched pair missing: ${rows.toSeq}")
      assert(rows.contains((2L, None)), s"unmatched left row never emitted: ${rows.toSeq}")
    } finally q.stop()
  }

  test("B14: stream-stream SEMI interval join — one row per converted click, state evicted, late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val l = clicks.toDF().toDF("l_id", "cu", "click_ts")
    val r = purchases.toDF().toDF("pu", "purchase_ts")
    val joined = StreamOps.streamStreamIntervalSemiJoin(
      l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "30 MINUTES",
      keyCond = col("cu") === col("pu"))
    val q = joined.writeStream.format("memory").queryName("t_sssemi").outputMode("append").start()
    try {
      clicks.addData(
        (10L, 1L, ts("2024-01-01 10:00:00")), // converts (twice over)
        (11L, 2L, ts("2024-01-01 10:00:00"))) // never converts
      purchases.addData(
        (1L, ts("2024-01-01 10:05:00")),
        (1L, ts("2024-01-01 10:10:00")))      // second match must NOT duplicate the click
      q.processAllAvailable()
      val got = spark.table("t_sssemi").select("l_id").as[Long].collect().toSeq
      assert(got === Seq(10L), s"semi join must emit each converted click exactly once: $got")
      // semi shape: only left columns survive
      assert(spark.table("t_sssemi").columns.toSeq === Seq("l_id", "cu", "click_ts"))

      // advance BOTH watermarks far past every live interval → buffered
      // state (click 11 waiting on a possible match, purchases kept for
      // possible future clicks) must be evicted, and the join must report
      // removed rows in its state-operator metrics
      clicks.addData((90L, 9L, ts("2024-01-01 12:00:00")))
      purchases.addData((8L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      clicks.addData((91L, 9L, ts("2024-01-01 13:00:00")))
      purchases.addData((8L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "watermark never evicted join state (numRowsRemoved == 0)")

      // a purchase behind the watermark (10:05 when the watermark is past
      // 12:50) is LATE: it must be dropped, not matched to click 11
      purchases.addData((2L, ts("2024-01-01 10:05:00")))
      clicks.addData((92L, 9L, ts("2024-01-01 13:30:00")))
      q.processAllAvailable()
      val after = spark.table("t_sssemi").select("l_id").as[Long].collect().toSet
      assert(!after.contains(11L), s"late purchase resurrected an expired click: $after")
    } finally q.stop()
  }

  test("B14 full outer: both unmatched sides emit null-extended once their windows close") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val l = clicks.toDF().toDF("l_id", "cu", "click_ts")
    val r = purchases.toDF().toDF("r_id", "pu", "purchase_ts")
    val joined = StreamOps.streamStreamIntervalJoinFullOuter(
      l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "30 MINUTES",
      keyCond = col("cu") === col("pu"))
    val q = joined.writeStream.format("memory").queryName("t_ssfo").outputMode("append").start()
    try {
      clicks.addData(
        (10L, 1L, ts("2024-01-01 10:00:00")),  // converts
        (11L, 2L, ts("2024-01-01 10:00:00")))  // never converts → null right
      purchases.addData(
        (20L, 1L, ts("2024-01-01 10:10:00")),  // the match
        (21L, 3L, ts("2024-01-01 10:20:00")))  // no click for user 3 → null left
      q.processAllAvailable()
      // close every window on both sides
      Seq("12:00:00", "13:00:00").foreach { t0 =>
        clicks.addData((90L, 9L, ts(s"2024-01-01 $t0")))
        purchases.addData((91L, 8L, ts(s"2024-01-01 $t0")))
        q.processAllAvailable()
      }
      val rows = spark.table("t_ssfo")
        .select(col("l_id"), col("r_id")).collect()
        .map(r0 => (if (r0.isNullAt(0)) None else Some(r0.getLong(0)),
                    if (r0.isNullAt(1)) None else Some(r0.getLong(1))))
        .toSet
      assert(rows.contains((Some(10L), Some(20L))), s"matched pair missing: $rows")
      assert(rows.contains((Some(11L), None)), s"unmatched click never null-emitted: $rows")
      assert(rows.contains((None, Some(21L))), s"unmatched purchase never null-emitted: $rows")
    } finally q.stop()
  }

  test("B14 bounded state: numRowsTotal plateaus at the live-window population over a long stream") {
    // the QUANTITATIVE eviction law: state size must track the watermark
    // HORIZON (window + lateness ≈ 2 batch steps here), not the stream
    // length — a 100 TB stream is only runnable if the join's memory is a
    // function of the window, so a plateau is the scale contract and a
    // linear totals curve is a leak. Both b14 shapes drive 12 batches of
    // constant population with advancing event time.
    implicit val sqlCtx = spark.sqlContext
    def drive(shape: String)
        (mk: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.DataFrame): Unit = {
      val clicks    = MemoryStream[(Long, Long, Timestamp)]
      val purchases = MemoryStream[(Long, Long, Timestamp)]
      val joined = mk(
        clicks.toDF().toDF("l_id", "cu", "click_ts"),
        purchases.toDF().toDF("r_id", "pu", "purchase_ts"))
      val q = joined.writeStream.format("memory")
        .queryName(s"t_bound_$shape").outputMode("append").start()
      try {
        val base = ts("2024-01-01 10:00:00").getTime
        val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
        (0 until 12).foreach { i =>
          val t = new Timestamp(base + i * 20L * 60 * 1000)
          clicks.addData((100L + i, (i % 3).toLong, t))
          purchases.addData((200L + i, (i % 3).toLong, t))
          q.processAllAvailable()
          totals += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        }
        val mid = totals.slice(4, 8).max
        val end = totals.takeRight(4).max
        assert(end <= mid, s"$shape: state grew with stream length: $totals")
        assert(end < 24, s"$shape: state holds ~the whole stream, not the live window: $totals")
      } finally q.stop()
    }
    drive("semi") { (l, r) =>
      StreamOps.streamStreamIntervalSemiJoin(
        l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "30 MINUTES",
        keyCond = col("cu") === col("pu"))
    }
    drive("full") { (l, r) =>
      StreamOps.streamStreamIntervalJoinFullOuter(
        l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "30 MINUTES",
        keyCond = col("cu") === col("pu"))
    }
  }

  test("B15: chained stateful ops — stream-stream join feeding a windowed agg emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val l = clicks.toDF().toDF("l_id", "cu", "click_ts")
    val r = purchases.toDF().toDF("pu", "purchase_ts")
    val joined = StreamOps.streamStreamIntervalJoin(
      l, r, "click_ts", "purchase_ts", lateness = "10 minutes", window = "1 HOUR",
      keyCond = col("cu") === col("pu"))
    val agg = joined
      .groupBy(window(col("click_ts"), "1 hour"))
      .agg(count(lit(1)).as("pairs"))
      .select(col("window.start").as("window_start"), col("pairs"))
    val q = agg.writeStream.format("memory").queryName("t_jtw").outputMode("append").start()
    try {
      clicks.addData(
        (1L, 1L, ts("2024-01-01 10:05:00")),
        (2L, 2L, ts("2024-01-01 10:10:00")),
        (3L, 1L, ts("2024-01-01 11:20:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:15:00")),  // pairs with click 1 (10:00 window)
        (1L, ts("2024-01-01 10:50:00")),  // second pair for click 1
        (2L, ts("2024-01-01 10:40:00")),  // pairs with click 2
        (1L, ts("2024-01-01 11:30:00")))  // pairs with click 3 (11:00 window)
      q.processAllAvailable()
      // advance the shared watermark far past 11:00 so BOTH stateful
      // operators close: join state evicts AND the 10:00 window finalizes
      clicks.addData((90L, 9L, ts("2024-01-01 14:00:00")))
      purchases.addData((8L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      clicks.addData((91L, 9L, ts("2024-01-01 15:00:00")))
      purchases.addData((8L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val got = spark.table("t_jtw")
        .as[(Timestamp, Long)].collect().toMap
      assert(got.get(ts("2024-01-01 10:00:00")) === Some(3L),
        s"10:00 window should hold 3 join pairs: $got")
      assert(got.get(ts("2024-01-01 11:00:00")) === Some(1L), s"11:00 window missing: $got")
      // batch twin on the same rows equals the streamed append output
      val bl = Seq((1L, 1L, ts("2024-01-01 10:05:00")), (2L, 2L, ts("2024-01-01 10:10:00")),
        (3L, 1L, ts("2024-01-01 11:20:00"))).toDF("l_id", "cu", "click_ts")
      val br = Seq((1L, ts("2024-01-01 10:15:00")), (1L, ts("2024-01-01 10:50:00")),
        (2L, ts("2024-01-01 10:40:00")), (1L, ts("2024-01-01 11:30:00")))
        .toDF("pu", "purchase_ts")
      val twin = StreamOps.streamStreamIntervalJoin(
          bl, br, "click_ts", "purchase_ts", "10 minutes", "1 HOUR",
          col("cu") === col("pu"))
        .groupBy(window(col("click_ts"), "1 hour"))
        .agg(count(lit(1)).as("pairs"))
        .select(col("window.start"), col("pairs"))
        .as[(Timestamp, Long)].collect().toMap
      assert(got.view.filterKeys(k => twin.contains(k)).toMap === twin)
    } finally q.stop()
  }

  test("B7: transformWithState running totals accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[StreamOps.SessionEvent]
    val q = StreamOps.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("t_b7_tws").outputMode("update").start()
    try {
      mem.addData(
        StreamOps.SessionEvent(1, ts("2024-01-01 00:00:00"), 10.0),
        StreamOps.SessionEvent(1, ts("2024-01-01 00:01:00"), 5.0),
        StreamOps.SessionEvent(2, ts("2024-01-01 00:02:00"), 1.0))
      q.processAllAvailable()
      mem.addData(StreamOps.SessionEvent(1, ts("2024-01-01 00:03:00"), 2.5))
      q.processAllAvailable()
      val rows = spark.table("t_b7_tws").as[StreamOps.UserTotals].collect()
      val latestU1 = rows.filter(_.user_id == 1).maxBy(_.events)
      assert(latestU1.events === 3L && latestU1.valueSum === 17.5)
      val u2 = rows.filter(_.user_id == 2).maxBy(_.events)
      assert(u2.events === 1L && u2.valueSum === 1.0)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B7: batch twin (b7_running_totals window) equals streaming final totals per key") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = Seq(
      StreamOps.SessionEvent(1, ts("2024-01-01 00:00:00"), 10.0),
      StreamOps.SessionEvent(1, ts("2024-01-01 00:01:00"), 5.0),
      StreamOps.SessionEvent(2, ts("2024-01-01 00:02:00"), 1.0),
      StreamOps.SessionEvent(1, ts("2024-01-01 00:03:00"), 2.5))
    val mem = MemoryStream[StreamOps.SessionEvent]
    val q = StreamOps.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("t_b7_twin").outputMode("update").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamFinal = spark.table("t_b7_twin").as[StreamOps.UserTotals].collect()
        .groupBy(_.user_id).map { case (u, rs) =>
          val last = rs.maxBy(_.events); u -> ((last.events, last.valueSum))
        }
      // identical window logic to the registered b7_running_totals query;
      // the final frame per key is the stream's final cumulative state
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Long.MinValue, 0)
      val batchFinal = data.toDF()
        .select(col("user_id"),
          count(lit(1)).over(w).as("re"), sum(col("value")).over(w).as("rs"))
        .groupBy(col("user_id")).agg(max(struct(col("re"), col("rs"))).as("m"))
        .select(col("user_id"), col("m.re"), col("m.rs")).as[(Long, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamFinal === batchFinal)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A9/A10: streaming dead-letter sink splits per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem  = MemoryStream[Ev]
    val main = java.nio.file.Files.createTempDirectory("graft_dlq_main").toString
    val dlq  = java.nio.file.Files.createTempDirectory("graft_dlq_dlq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dlq_ckpt").toString
    mem.addData(batch1: _*)
    val q = graft.sources.Sinks
      .streamWithDeadLetter(mem.toDF(), col("value") > 25.0, main, dlq, ckpt)
      .start()
    try { q.awaitTermination(60000) } finally q.stop()
    // batch1: values 10/20/30 → one "corrupt" (>25) row to DLQ, two to main
    assert(spark.read.parquet(s"$main/batch=0").count() === 2)
    assert(spark.read.parquet(s"$dlq/batch=0").count() === 1)
  }

  test("A1: checkpointed file stream resumes from its offset after restart") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src")
    val ckpt   = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out    = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    def writeFile(n: Int): Unit = {
      // stage a single .parquet FILE (write.parquet makes a directory,
      // which the file-stream source does not recurse into)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_stage")
      spark.range(n * 10, n * 10 + 10).toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, srcDir.resolve(s"batch$n.parquet"))
    }
    writeFile(0)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    runOnce()
    assert(spark.read.parquet(out).count() === 10L)
    writeFile(1) // new file arrives while "down"
    runOnce()    // restart: must pick up ONLY the new file
    assert(spark.read.parquet(out).count() === 20L)
    assert(spark.read.parquet(out).select("id").distinct().count() === 20L, "duplicate replay after restart")
  }

  test("A1: file-stream source reads the fixture feed incrementally") {
    // FileStreamSource requires a directory; stage the fixture file into one.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/orders.parquet"),
      dir.resolve("orders.parquet"))
    val schema = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet").schema
    val src    = new graft.sources.FileEventSource(dir.toString, schema)
    val q = src.readStream(spark).writeStream.format("memory").queryName("t_a1")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("t_a1").count() === 1500L)
    } finally q.stop()
  }

  test("chunking streams unchanged: a narrow corpus op in append mode equals its batch run") {
    // Document chunking is a stateless narrow generator, so the SAME
    // operator call runs inside a streaming query with no state store,
    // no watermark, no rewrite — the batch/streaming parity the corpus
    // ops are designed for.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val chunked = graft.operators.Mixture.chunkDocuments(
      mem.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      windowTokens = 5, strideTokens = 3)
    val q = chunked.writeStream.format("memory").queryName("t_chunk")
      .outputMode("append").start()
    val s1 = Seq((1L, (1 to 12).map(i => s"w$i").mkString(" ")), (2L, "short doc"))
    val s2 = Seq((3L, (1 to 7).map(i => s"x$i").mkString(" ")), (4L, ""))
    try {
      mem.addData(s1: _*); q.processAllAvailable()
      mem.addData(s2: _*); q.processAllAvailable()
      val streamed = spark.table("t_chunk")
        .as[(Long, Long, String, Long)].collect().sorted.toSeq
      val batchTwin = graft.operators.Mixture.chunkDocuments(
        (s1 ++ s2).toDF("doc_id", "text"), col("doc_id"), col("text"), 5, 3)
        .as[(Long, Long, String, Long)].collect().sorted.toSeq
      assert(streamed === batchTwin)
      assert(streamed.count(_._1 == 1L) === 4) // 12 tokens, w=5 s=3 → ceil(7/3)+1
    } finally q.stop()
  }

  test("streaming partitioned CDC: touched buckets rewrite, untouched buckets carry by reference") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Cdc
    val store = java.nio.file.Files.createTempDirectory("graft_cdc_pstore").toString
    val ckpt  = java.nio.file.Files.createTempDirectory("graft_cdc_pckpt").toString
    val keys  = Seq("k")
    val n     = 8
    val seed  = (1L to 40L).map(k => (k, s"orig$k", k * 1.5)).toDF("k", "name", "bal")
    val b1 = Seq((1L, "a1", 10.0, 1L, "U"), (30L, "c", 30.0, 2L, "I"))
    val b2 = Seq((1L, "a2", 11.0, 3L, "U")) // touches ONE key → one bucket
    val b3 = Seq((30L, "c2", 33.0, 4L, "U"))
    val feed = java.nio.file.Files.createTempDirectory("graft_cdc_pfeed").toString
    val mem = MemoryStream[(Long, String, Double, Long, String)]
    val q = Cdc
      .maintainPartitionedSnapshot(
        mem.toDF().toDF("k", "name", "bal", "seq", "op"),
        seed, keys, Seq(col("seq")), col("op"), store, ckpt, n,
        vacuumEvery = 1, keepVersions = 2, // VACUUM cadence wired into maintenance
        feedPath = Some(feed))             // incremental CDF materialization
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // auto-vacuum bounded the version history to keepVersions...
    assert(Cdc.manifestVersions(spark, store).sorted === Seq(1L, 2L),
      "auto-vacuum did not prune the version history to keepVersions")
    // ...without touching what the newest version serves
    val served = Cdc.readPartitionedSnapshot(spark, store)
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val oneShot = Cdc
      .upsert(seed, (b1 ++ b2 ++ b3).toDF("k", "name", "bal", "seq", "op"),
        keys, Seq(col("seq")), col("op"))
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(served === oneShot)
    // incremental change feed (CDF-COMPLETE): baseline batch 0 writes
    // none; each later version's feed holds its batch's effective changes
    // with updates split into pre/post images + _commit_version, and a
    // plain file-stream consumer tails the concatenation
    assert(!new java.io.File(s"$feed/v=0").exists(), "baseline batch wrote a feed")
    def feedOf(v: Long) = spark.read.parquet(s"$feed/v=$v")
      .select("k", "name", "bal", "_change_type", "_commit_version")
      .as[(Long, String, Double, String, Long)].collect().toSet
    assert(feedOf(1L) === Set(
      (1L, "a1", 10.0, "update_preimage", 1L),
      (1L, "a2", 11.0, "update_postimage", 1L)))
    assert(feedOf(2L) === Set(
      (30L, "c", 30.0, "update_preimage", 2L),
      (30L, "c2", 33.0, "update_postimage", 2L)))
    val feedSchema = spark.read.parquet(s"$feed/v=1").schema
    val tailQ = spark.readStream.schema(feedSchema).parquet(s"$feed/v=*")
      .writeStream.format("memory").queryName("t_cdf_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    tailQ.awaitTermination(60000); tailQ.stop()
    val tailed = spark.table("t_cdf_tail")
      .select("k", "name", "bal", "_change_type", "_commit_version")
      .as[(Long, String, Double, String, Long)].collect().toSet
    assert(tailed === feedOf(1L) ++ feedOf(2L),
      s"file-stream consumer diverged from the feed: $tailed")

    // batch 1 (touching only key 1's bucket) must have written exactly one
    // bucket directory under _writer=1 — every other bucket carried over
    val hot = Seq(1L).toDF("k").select(Cdc.bucketExpr(keys, n)).as[Int].head()
    val writtenByB1 = new java.io.File(s"$store/parts").listFiles()
      .filter(d => d.getName.startsWith("_bucket=") &&
        new java.io.File(d, "_writer=1").exists())
      .map(_.getName.stripPrefix("_bucket=").toInt).toSet
    assert(writtenByB1 === Set(hot), "micro-batch 1 rewrote buckets it did not touch")
  }

  test("streaming IVM: micro-batch deltas maintain the view; replay is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ivm
    val store = java.nio.file.Files.createTempDirectory("graft_ivm_store").toString
    val ckpt  = java.nio.file.Files.createTempDirectory("graft_ivm_ckpt").toString
    val keys  = Seq("k")
    // Changelog: (key, value, op). Batch 2 retracts one of batch 1's rows
    // (an update) and fully retracts key c.
    val b1 = Seq(("a", 10.0, 1L), ("a", 20.0, 1L), ("b", 5.0, 1L), ("c", 7.0, 1L))
    val b2 = Seq(("a", 20.0, -1L), ("a", 25.0, 1L), ("c", 7.0, -1L))
    val mem = MemoryStream[(String, Double, Long)]
    val q = Ivm
      .maintainView(mem.toDF().toDF("k", "v", "op"), col("op"), col("v"), keys, store, ckpt)
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def served = Ivm
      .view(Ivm.readView(spark, store, keys), keys)
      .as[(String, Long, Double, Double)].collect().toSet
    val expected = Ivm
      .view(
        Ivm.mergeAll(
          Seq(Ivm.aggDelta((b1 ++ b2).toDF("k", "v", "op"), col("op"), col("v"), keys)), keys),
        keys)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(served === expected)
    assert(!served.exists(_._1 == "c"), "fully-retracted key must vanish")
    // Crash-replay: re-running a committed micro-batch overwrites its own
    // delta directory — the served view must not double-count.
    Ivm.processViewBatch(b2.toDF("k", "v", "op"), col("op"), col("v"), keys, store, 1L)
    assert(served === expected)
  }
}
