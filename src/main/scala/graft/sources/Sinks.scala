package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sink surface (SURVEY.md §2.A A9): partitioned batched emit.
  *
  * The reference forwards surviving events downstream partition-keyed by
  * document id in bounded put_records batches; the Spark-native equivalent
  * is a keyed repartition + partitioned write (batch) or foreachBatch
  * (streaming).
  */
object Sinks {

  /** A9 batch twin: partition-keyed parquet emit. `repartition(keyCol)`
    * is the put_records partition keying; partitionBy layout keeps
    * downstream reads prunable. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Compact a directory of small files into ~`targetBytes` outputs —
    * streaming sinks produce a file per micro-batch per partition, and at
    * 100 TB the resulting millions of small files dominate planning and
    * open() cost long before data cost. Sizing walks the tree recursively
    * (partitioned layouts nest files under key directories); the rewrite is
    * a single narrow coalesce (no shuffle).
    *
    * Runs on the session's Hadoop FileSystem, so the same code compacts
    * local, HDFS, or S3A paths. The swap is crash-RECOVERABLE rather than
    * atomic: the original is renamed aside to `__precompact`, the rewrite
    * renamed into place, and only then is the old copy deleted — a copy of
    * the data always exists on disk, but concurrent READERS can observe a
    * brief window where the dataset path is absent (and on S3A, rename is
    * a non-atomic server-side copy, widening that window). Schedule
    * compaction when the path has no concurrent readers, or swap via a
    * catalog/manifest layer. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, targetBytes: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val dataPath = new Path(path)
    val fs       = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes    = 0L
    val files    = fs.listFiles(dataPath, /* recursive = */ true)
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp   = new Path(path + "__compacting")
    val old   = new Path(path + "__precompact")
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.parquet(path).coalesce(parts).write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(dataPath, old))
      throw new java.io.IOException(s"compaction rename-aside failed: $path -> $old")
    if (!fs.rename(tmp, dataPath)) {
      // Restore the original; if even that fails, say exactly where the
      // surviving copy lives — a vacant dataset path with a silent
      // recovery failure is the worst outcome.
      if (fs.rename(old, dataPath))
        throw new java.io.IOException(s"compaction rename failed: $tmp -> $path (original restored)")
      else
        throw new java.io.IOException(
          s"compaction rename failed: $tmp -> $path AND restore failed — " +
            s"dataset path is vacant; recover manually from $old (original) or $tmp (rewrite)")
    }
    fs.delete(old, true)
    ()
  }

  /** Bucketed write: pre-shuffle once at write time so every later
    * equi-join/aggregation on `bucketCol` between co-bucketed tables runs
    * exchange-free (verified in BucketingSpec). The 100 TB recipe for fact
    * tables joined repeatedly on the same key. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Range-clustered write: repartition by range on `sortCols` and sort
    * within partitions, so every output file covers a disjoint key range —
    * parquet min/max footer stats then let any engine skip whole files for
    * selective predicates (the poor man's zone map; same idea clustered
    * tables/Z-ordering build on). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String], numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write
      .mode("overwrite")
      .parquet(path)

  /** Z-order clustered write: range-partition + sort by the Morton key of
    * two columns, so every output file covers a small RECTANGLE of
    * (x, y) space and parquet min/max footer stats skip files for
    * selective predicates on EITHER column — [[writeSorted]] gives one
    * dimension, this gives two (the lakehouse Z-ordering technique,
    * composed from `repartitionByRange` + a native codegen key,
    * [[graft.catalyst.InterleaveBitsExpression]]).
    *
    * The min-max normalization bounds come from one tiny stats
    * aggregation (4 scalars — config-sized, not data-sized; production
    * tables would read them from table-level metadata instead). */
  def writeClustered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      numFiles: Int
  ): Unit = {
    val spark = df.sparkSession
    val b = df.agg(
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long"))
      .collect().head
    val (xLo, xHi, yLo, yHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    df.withColumn(
        "__z",
        graft.functions.ZOrder.interleaveBits(
          spark,
          graft.functions.ZOrder.scaleToBits(col(xCol), lit(xLo), lit(xHi), bits = 20),
          graft.functions.ZOrder.scaleToBits(col(yCol), lit(yLo), lit(yHi), bits = 20)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** [[writeClustered]] generalized to THREE clustering columns via the
    * 3-D Morton key ([[graft.catalyst.Morton3Expression]], 20 bits per
    * dimension): every output file covers a small BOX of the
    * (c1, c2, c3) space, so footer stats prune on any of the three
    * columns — the multi-column Z-ORDER BY of lakehouse engines. Same
    * one-tiny-stats-pass normalization as the 2-D path. */
  def writeClusteredK(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      numFiles: Int
  ): Unit = {
    require(cols.length == 3, "writeClusteredK clusters exactly 3 columns (use writeClustered for 2)")
    val spark = df.sparkSession
    val b = df.agg(
      min(col(cols(0))).cast("long"), max(col(cols(0))).cast("long"),
      min(col(cols(1))).cast("long"), max(col(cols(1))).cast("long"),
      min(col(cols(2))).cast("long"), max(col(cols(2))).cast("long"))
      .collect().head
    def scaled(i: Int): org.apache.spark.sql.Column =
      graft.functions.ZOrder.scaleToBits(
        col(cols(i)), lit(b.getLong(2 * i)), lit(b.getLong(2 * i + 1)),
        bits = graft.catalyst.Morton3Expression.BitsPerDim)
    df.withColumn("__z", graft.functions.ZOrder.morton3(spark, scaled(0), scaled(1), scaled(2)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Training-shard emit — the terminal step of the corpus-prep pipeline:
    * deterministically shuffle the corpus
    * ([[graft.operators.Mixture.globalShuffle]] — a pure function of
    * (id, seed), reproducible on any cluster) and write one
    * `shard=<k>/` parquet directory per shard with rows PHYSICALLY stored
    * in shuffled order (`pos`), so a training loader streams each shard
    * front-to-back and sees a randomized example order with zero
    * read-time shuffling. One repartition on `shard` (the single full
    * shuffle this pipeline pays, by design) + per-shard spillable sorts;
    * numShards ≫ cores at scale keeps every executor busy. */
  def writeTrainingShards(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      path: String,
      numShards: Int,
      seed: Long
  ): Unit =
    graft.operators.Mixture
      .globalShuffle(df, idCol, numShards, seed)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(path)

  /** Gzipped JSON-Lines shards — the standard LLM-corpus interchange
    * format (one JSON object per line, .jsonl.gz files): hash-sharded by
    * id so shard membership is stable across reruns and cluster sizes,
    * one file per shard via partitioned write. Spark's native json writer
    * does the serialization (codegen'd JacksonGenerator, no UDF); gzip
    * keeps shards splittable-at-file-granularity — the layout every
    * tokenizer/training loader consumes. */
  def writeJsonlShards(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      path: String,
      numShards: Int
  ): Unit =
    df.withColumn("shard", pmod(xxhash64(idCol), lit(numShards)))
      .repartition(numShards, col("shard"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .option("compression", "gzip")
      .json(path)

  /** Streaming split on corruption: foreachBatch writes each micro-batch's
    * rows to the main output and its `corrupt` rows to the dead-letter
    * queue — the exactly-once contract comes from the checkpoint +
    * idempotent (overwrite-by-batch-path) writes. */
  def streamWithDeadLetter(
      df: DataFrame,
      corrupt: org.apache.spark.sql.Column,
      mainPath: String,
      dlqPath: String,
      checkpoint: String
  ): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val marked = batch.withColumn("__is_corrupt", corrupt).cache()
        try {
          marked
            .filter(!col("__is_corrupt"))
            .drop("__is_corrupt")
            .write
            .mode("overwrite")
            .parquet(s"$mainPath/batch=$id")
          marked
            .filter(col("__is_corrupt"))
            .drop("__is_corrupt")
            .write
            .mode("overwrite")
            .parquet(s"$dlqPath/batch=$id")
        } finally { marked.unpersist(); () }
      }
}
