package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Skew-STRESS laws: the repo's scale claims are plan-shape asserted in
  * PlanSpec; these tests EXERCISE the skew instead — plant a hot key
  * carrying a large fraction of all rows and measure per-task/partition
  * input, so "skew-immune" is an observed property, not a comment.
  *
  *  - salted join: hot-key mass spreads across `factor` hash partitions,
  *    result row-identical to the plain join;
  *  - shingle frequency (the d2_memorization_risk shape): partial+final
  *    hash agg bounds the hot key's per-task shuffle input by the MAP
  *    TASK COUNT, where the count-window form reads the full hot
  *    partition on one task — both measured via TaskEnd shuffle-read
  *    records;
  *  - LSH banding: a degenerate bucket (hundreds of identical docs)
  *    never reaches the pair product — capped out and reported in the
  *    droppedBuckets audit.
  */
class SkewStressSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Max shuffle-read records of any task spawned by `action`. Listener
    * events are posted asynchronously; drain the listener bus before
    * reading the max. */
  private def maxTaskShuffleRead(action: => Unit): Long = {
    val reads = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) reads.add(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      GraftBridge.drainListenerBus(spark)
      reads.toArray(Array.empty[java.lang.Long]).map(_.longValue).foldLeft(0L)(math.max)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def partitionSizes(df: DataFrame): Array[Long] =
    df.toDF().rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()

  test("salted join spreads a 10%-mass hot key across partitions and stays row-identical") {
    val n = 10000
    // key 42 carries 10% of all rows; the rest spread over 1000 keys
    val left = spark.range(n.toLong).select(
      when(col("id") < n / 10, lit(42L)).otherwise(pmod(col("id") * 2654435761L, lit(1000L)))
        .as("k"),
      col("id").as("payload"))
    val right = spark.range(1000L).select(col("id").as("rk"), (col("id") * 7L).as("dim"))

    // routing probe: the hash exchange on the bare key puts the whole hot
    // mass in ONE partition; on (key, salt) no partition holds more than
    // a factor-sized shard of it
    val plainSizes = partitionSizes(left.repartition(32, col("k")))
    val factor = 8
    val salted = left.withColumn(
      "__salt", pmod(xxhash64(monotonically_increasing_id()), lit(factor.toLong)))
    val saltedSizes = partitionSizes(salted.repartition(32, col("k"), col("__salt")))
    assert(plainSizes.max >= n / 10L, "fixture lost its hot key")
    assert(saltedSizes.max < (n / 10L) / 2,
      s"salting failed to split the hot partition: max=${saltedSizes.max}")

    // semantics: salted ≡ plain
    val plainJoin = left.join(right, col("k") === col("rk"))
      .select(col("payload"), col("dim")).as[(Long, Long)].collect().sorted.toSeq
    val saltJoin = SkewJoin.saltedInnerJoin(left, right, col("k"), col("rk"), factor)
      .select(col("payload"), col("dim")).as[(Long, Long)].collect().sorted.toSeq
    assert(saltJoin === plainJoin)
  }

  test("hash-agg shingle frequency bounds hot-key task input; the count-window form does not") {
    val nDocs = 4000
    // AQE's partition coalescing folds this toy-sized shuffle into one
    // task either way, which would make the probe measure totals instead
    // of per-key routing — turn it off so the 32 reduce partitions stand.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      // every doc carries the boilerplate shingle HOT + one unique shingle
      val ex = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
          explode(array(lit("HOT"), concat(lit("u"), col("id")))).as("s"))
        .repartition(8) // fixed map-side width so the partial-agg bound is known
        .localCheckpoint()

      val aggMax = maxTaskShuffleRead {
        ex.groupBy(col("s")).agg(count(lit(1)).as("nd")).foreach(_ => ())
      }
      val windowMax = maxTaskShuffleRead {
        ex.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("s")))).foreach(_ => ())
      }
      // window: the HOT task materializes every HOT row (≥ nDocs records);
      // partial+final agg: the hot key reaches its reducer as ≤ 8 partial
      // rows, so the busiest task reads ~(distinct keys / partitions) +
      // maps — an order of magnitude under the hot mass
      assert(windowMax >= nDocs.toLong,
        s"fixture failed to make the window hot: windowMax=$windowMax")
      // absolute bound is (distinct keys / reduce partitions) + maps, i.e.
      // session-dependent; the invariant is RELATIVE — the agg's busiest
      // task must be a fraction of the window's hot task, because the hot
      // key itself contributes ≤ maps partial rows instead of nDocs
      assert(aggMax <= windowMax / 3,
        s"partial agg did not bound the hot key: aggMax=$aggMax vs windowMax=$windowMax")
    } finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None    => spark.conf.unset(coalesceKey)
    }
  }

  test("AQE splits a planted skewed sort-merge partition at runtime (composition law)") {
    // The engine's OWN skew tools (salting, hash-agg shapes, LSH caps)
    // are measured above; this pins the COMPOSITION with Spark's runtime
    // half: a sort-merge join whose build of one key dwarfs the rest must
    // come out of AQE with the skewed partition SPLIT (skew=true in the
    // final adaptive plan), not serialized onto one task. Thresholds are
    // lowered to test scale; the lever at 100 TB is the same flag set.
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 64
      // left: 50k rows of key 0 (one fat partition) + a thin tail
      val left = spark.range(0, 50000).select(lit(0L).as("k"), concat(lit(pad), col("id")).as("l"))
        .unionAll(spark.range(1, 2000).select(col("id").as("k"), lit(pad).as("l")))
      val right = spark.range(0, 2000).select(col("id").as("k"), lit("r").as("r"))
      val joined = left.join(right, "k")
      // collect (not count): count would prune the fat payload column and
      // shrink the shuffle below the skew threshold; the assertion must
      // execute joined's OWN QueryExecution so the adaptive final plan is
      // inspectable on it afterwards
      assert(joined.collect().length === 50000 + 1999)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${finalPlan.take(3000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("LSH banding caps a degenerate bucket out of the pair product and audits it") {
    val hot  = (0 until 400).map(i => (i.toLong, "the same spam page text repeated verbatim across the farm"))
    val rest = (400 until 420).map(i => (i.toLong, s"unique document number $i with its own words ${i * 31}"))
    val docs = (hot ++ rest).toDF("doc_id", "text")
    val p = Dedup.MinHashParams(numHashes = 16, numBands = 4, shingleSize = 3, maxBucketSize = 64)

    val buckets = Dedup.lshBuckets(docs, col("doc_id"), col("text"), p)
    val perBucket = buckets.groupBy(col("band"), col("bucket")).count()
      .select(max(col("count"))).as[Long].head()
    assert(perBucket <= 64L, s"a bucket exceeded the cap: $perBucket")
    // the hot bucket carries no candidate pairs...
    val hotIds = buckets.filter(col("doc_id") < 400).count()
    assert(hotIds === 0L, "capped bucket leaked docs into the candidate stream")
    // ...and is reported, per band, in the audit side-output
    val dropped = Dedup.droppedBuckets(docs, col("doc_id"), col("text"), p)
      .as[(Long, Long, Long)].collect()
    assert(dropped.length === 4 && dropped.forall(_._3 === 400L),
      s"audit missing the dropped spam bucket: ${dropped.toSeq}")
  }
}
