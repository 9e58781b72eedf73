package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{QueryMetrics, TestSpark}
import graft.operators.Cdc.{BucketEntry, ColStatRec}

/** Laws for the CDC commit path's metadata work (operators/Cdc.scala):
  *  - the narrow ANALYZE-on-write pass ([[Cdc.bucketStatsAgg]]) records
  *    exactly what the Catalyst `groupBy(_bucket).agg(...)` aggregate it
  *    replaced records (that aggregate is kept here as the oracle);
  *  - the driver-side manifest reader decodes every manifest shape the
  *    engine writes exactly as `spark.read.parquet` does (also kept here
  *    as the oracle);
  *  - job budgets: a manifest read, a shallow merge-on-read commit and the
  *    ANALYZE pass launch the pinned number of Spark jobs.
  */
class CdcCommitPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tracked = Set[DataType](LongType, IntegerType, DoubleType, FloatType, DateType,
    BooleanType, StringType)
  private val ranged = tracked - StringType

  /** The ANALYZE aggregate the commit path used to run: one Catalyst
    * aggregate grouped by `_bucket`. */
  private def catalystStats(df: DataFrame, schema: StructType)
      : Map[Int, (Long, Map[String, ColStatRec])] = {
    val cols = schema.fields.filter(f => tracked.contains(f.dataType))
    val aggs = count(lit(1)).as("__rows") +: cols.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      Seq(count(c).as(s"__nn:${f.name}"), approx_count_distinct(c).as(s"__ndv:${f.name}")) ++
        (if (ranged.contains(f.dataType))
           Seq(min(c).as(s"__min:${f.name}"), max(c).as(s"__max:${f.name}"))
         else Nil)
    }
    def internalString(v: Any): String = v match {
      case d: java.sql.Date       => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case other                  => other.toString
    }
    df.groupBy(col("_bucket")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val rows = r.getLong(r.fieldIndex("__rows"))
      def opt(name: String): Option[String] = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) None else Some(internalString(r.get(i)))
      }
      r.getInt(r.fieldIndex("_bucket")) -> (rows, cols.map { f =>
        val ranges =
          if (ranged.contains(f.dataType)) (opt(s"__min:${f.name}"), opt(s"__max:${f.name}"))
          else (None, None)
        f.name -> ColStatRec(rows - r.getLong(r.fieldIndex(s"__nn:${f.name}")),
          Some(r.getLong(r.fieldIndex(s"__ndv:${f.name}"))), ranges._1, ranges._2)
      }.toMap)
    }.toMap
  }

  /** The manifest decode the store used before reads moved to the
    * driver: `spark.read.parquet` over the version dir, absent optional
    * columns filled in. */
  private def sparkManifest(store: String, v: Long): Map[Int, BucketEntry] = {
    val df = spark.read.parquet(s"$store/manifest/v=$v")
    val cols = df.columns.toSet
    def orNull(c: String, t: String) = if (cols(c)) col(c).cast(t) else lit(null).cast(t)
    df.select(col("_bucket").cast("int"), col("_writer").cast("long"),
        orNull("_rows", "long").as("_rows"),
        (if (cols("_colstats")) col("_colstats")
         else typedLit(Map.empty[String, ColStatRec])).as("_colstats"),
        (if (cols("_deltas")) col("_deltas") else typedLit(Seq.empty[Long])).as("_deltas"),
        orNull("_basemod", "int").as("_basemod"))
      .as[(Int, Long, Option[Long], Option[Map[String, ColStatRec]], Option[Seq[Long]],
        Option[Int])]
      .collect()
      .map { case (p, w, r, cs, ds, bm) =>
        p -> BucketEntry(if (w < 0) None else Some(w), r, cs.getOrElse(Map.empty),
          ds.getOrElse(Nil), bm)
      }.toMap
  }

  /** Min/max agree as strings, or numerically: a ±0.0 tie keeps whichever
    * value an aggregate happens to see first. */
  private def sameRange(a: Option[String], b: Option[String]): Boolean = (a, b) match {
    case (Some(x), Some(y)) =>
      x == y || scala.util.Try(x.toDouble == y.toDouble).getOrElse(false)
    case _ => a == b
  }

  test("ANALYZE-on-write: the narrow pass records exactly what the Catalyst aggregate " +
      "records, per bucket and column, across partial merges on the driver") {
    val nBuckets = 16
    val rnd = new scala.util.Random(20261020L)
    val doubles = Array(Double.NaN, 0.0, -0.0, 1.5, -2.25, 1e300, Double.MinPositiveValue)
    val schema = StructType(Seq(
      StructField("_bucket", IntegerType, nullable = false),
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("dt", DateType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("none", LongType)))
    // bucket 15 gets exactly one row
    val rows = (0 until 5000).map { n =>
      val p = if (n == 0) 15 else rnd.nextInt(nBuckets - 1)
      def maybe[T](v: => T): Any = if (rnd.nextInt(10) == 0) null else v
      Row(p, maybe(rnd.nextLong() % 1000L), maybe(rnd.nextInt(50) - 25),
        maybe(if (rnd.nextBoolean()) doubles(rnd.nextInt(doubles.length))
              else rnd.nextGaussian() * 100),
        maybe(if (rnd.nextInt(8) == 0) -0.0f else rnd.nextFloat() * 10 - 5),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(20000)))),
        maybe(rnd.nextBoolean()), maybe(s"s${rnd.nextInt(300)}"), null)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 7), schema)
    val payload = StructType(schema.fields.tail)
    val expected = catalystStats(df, payload)
    val actual = Cdc.bucketStatsAgg(df, payload, withStats = true)
    assert(expected.size === nBuckets)
    assert(actual.keySet === expected.keySet)
    assert(actual(15)._1 === 1L, "fixture lacks its one-row bucket")
    expected.foreach { case (p, (n, stats)) =>
      val (an, astats) = actual(p)
      assert(an === n, s"bucket $p row count")
      assert(astats.keySet === stats.keySet)
      stats.foreach { case (c, want) =>
        val got = astats(c)
        assert(got.nulls === want.nulls && got.ndv === want.ndv, s"bucket $p column $c: $got vs $want")
        assert(sameRange(got.min, want.min) && sameRange(got.max, want.max),
          s"bucket $p column $c range: $got vs $want")
      }
    }
    actual.foreach { case (p, (n, stats)) =>
      assert(stats("none") === ColStatRec(n, Some(0L), None, None), s"bucket $p all-null column")
    }
    // row counts only
    assert(Cdc.bucketStatsAgg(df, payload, withStats = false) ===
      expected.map { case (p, (n, _)) => p -> (n, Map.empty[String, ColStatRec]) })
  }

  private val keys = Seq("k")
  private val nBuckets = 8

  private def log(rows: (Long, String, Double, Long, String)*): DataFrame =
    rows.toDF("k", "name", "bal", "seq", "op")

  private def batch(store: String, seed: DataFrame, id: Long, mor: Boolean,
      rows: (Long, String, Double, Long, String)*): Long =
    Cdc.processPartitionedBatch(log(rows: _*), seed, keys, Seq(col("seq")), col("op"), store,
      nBuckets, id, casCommit = true, morCommit = mor)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("manifest reader: the driver decode equals the Spark decode for every manifest " +
      "shape the engine writes; a missing version dir fails loudly, naming the path") {
    val seed = (1L to 40L).map(k => (k, s"orig$k", k * 1.0)).toDF("k", "name", "bal")
    val store = tmp("graft_cdc_manifest_oracle")
    batch(store, seed, 0L, mor = false)                              // CoW with colstats
    batch(store, seed, 1L, mor = true, (5L, "u5", 5.5, 100L, "U"),  // MoR delta lists
      (6L, "d6", 0.0, 101L, "D"))
    Cdc.compactStore(spark, store, keys, nBuckets)                  // v=2, clean
    Cdc.splitBuckets(spark, store)                                  // v=3, baseMod children
    val emptied = tmp("graft_cdc_manifest_empty")
    batch(emptied, seed, 0L, mor = false)
    batch(emptied, seed, 1L, mor = false,                           // all deleted
      (1L to 40L).map(k => (k, "", 0.0, 100L + k, "D")): _*)
    // hand-staged entries with rows = None and ndv = None
    val staged = tmp("graft_cdc_manifest_staged")
    Cdc.writeManifestParquet(spark, new org.apache.hadoop.fs.Path(s"$staged/manifest/v=0"), Seq(
      0 -> BucketEntry(Some(7L), None, Map("a" -> ColStatRec(3L, None, Some("1"), None))),
      1 -> BucketEntry(None, Some(2L), Map.empty, Seq(8L, 9L), Some(1))))
    // a manifest written before the optional columns existed
    Seq((0, 11L, Option(4L)), (1, -1L, Option.empty[Long])).toDF("_bucket", "_writer", "_rows")
      .coalesce(1).write.parquet(s"$staged/manifest/v=1")
    val cases = Seq(store -> 0L, store -> 1L, store -> 2L, store -> 3L, emptied -> 1L,
      staged -> 0L, staged -> 1L)
    cases.foreach { case (s, v) =>
      assert(Cdc.readManifestFull(spark, s, v) === sparkManifest(s, v), s"$s v=$v")
    }
    val decoded = cases.map { case (s, v) => Cdc.readManifestFull(spark, s, v) }
    assert(decoded(0).values.exists(_.stats.nonEmpty), "no CoW colstats")
    assert(decoded(1).values.exists(_.deltas.nonEmpty), "no MoR delta list")
    assert(decoded(3).values.exists(_.baseMod.isDefined), "no split child")
    assert(decoded(4).isEmpty, "all-deleted manifest is not empty")
    assert(decoded(5)(0).rows.isEmpty && decoded(5)(0).stats("a").ndv.isEmpty)
    assert(decoded(6) === Map(0 -> BucketEntry(Some(11L), Some(4L), Map.empty),
      1 -> BucketEntry(None, None, Map.empty)))
    val missing = intercept[java.io.FileNotFoundException](
      Cdc.readManifestFull(spark, store, 99L))
    assert(missing.getMessage.contains(s"$store/manifest/v=99"), missing.getMessage)
  }

  test("job budgets: an uncached manifest read launches no Spark job, a merge-on-read " +
      "commit with no bucket at the depth cap runs no touched-bucket collect, and " +
      "ANALYZE-on-write is one job with no shuffle") {
    val metrics = new QueryMetrics(spark)
    try {
      val seed = (1L to 40L).map(k => (k, s"orig$k", k * 1.0)).toDF("k", "name", "bal")
      val store = tmp("graft_cdc_jobs")
      batch(store, seed, 0L, mor = false)
      // nothing has read v=0 of this fresh store yet: the read misses the cache
      val read = metrics.measure(assert(Cdc.readManifestFull(spark, store, 0L).nonEmpty))
      assert(read.jobs === 0, s"manifest read launched ${read.jobs} jobs")
      val rows = Seq((5L, "u5", 5.5, 100L, "U"), (6L, "d6", 0.0, 101L, "D"),
        (99L, "i99", 9.9, 102L, "I"))
      val mor = metrics.measure(batch(store, seed, 1L, mor = true, rows: _*))
      assert(mor.jobs === MorShallowJobs, s"shallow MoR commit launched ${mor.jobs} jobs")
      val frame = seed.withColumn("_bucket", Cdc.bucketExpr(keys, nBuckets))
        .withColumn("_writer", lit(1L)).localCheckpoint(true)
      val stats = metrics.measure(Cdc.bucketStatsAgg(frame, seed.schema, withStats = true))
      assert((stats.jobs, stats.stages, stats.shuffleBytes) === ((1, 1, 0L)),
        s"ANALYZE pass: $stats")
    } finally metrics.close()
  }

  /** Jobs a shallow merge-on-read commit launches: the survivor write's
    * window-shuffle stage and its write job (AQE runs them as separate
    * jobs), and nothing else. */
  private val MorShallowJobs = 2
}
