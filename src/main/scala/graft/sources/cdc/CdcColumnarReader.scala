package graft.sources.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
// the OLD mapred FileSplit: SpecificParquetRecordReaderBase casts its
// mapreduce.InputSplit argument to it (mapred.FileSplit extends the
// mapreduce one, so it satisfies both signatures)
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The ONE parquet decoder for CDC store and feed files: decodes each
  * file through Spark's own `VectorizedParquetRecordReader` into
  * `ColumnarBatch`es — column-at-a-time, no per-value boxing, the same
  * engine Spark's built-in parquet scans run on. Clean store, feed and
  * bootstrap partitions serve its batches directly; the merge-on-read
  * fold ([[CdcMorPartitionReader]]) walks the same batches as rows, and
  * the footer-statistics scan decodes uncooperative files through it.
  *
  * Contract:
  *  - COLUMN PRUNING: only `requiredSchema`'s data columns are requested
  *    from the file (`SPARK_ROW_REQUESTED_SCHEMA` — Spark's read support
  *    clips it per file against the file's own schema).
  *  - ADDITIVE EVOLUTION: columns a file predates decode as all-NULL
  *    vectors (the vectorized reader's native missing-column handling —
  *    exactly Spark's own mergeSchema behavior).
  *  - TYPE WIDENING ([[graft.operators.Cdc.widenColumn]]): a
  *    pre-widening file's INT32 / FLOAT / narrower DECIMAL decodes into
  *    the recorded wider type through Spark's own vectorized updaters.
  *  - CONSTANT COLUMNS (the feed's `_commit_timestamp`): served through
  *    `initBatch`'s partition-value mechanism — a constant vector, never
  *    materialized in the files.
  *  - KEY-PANEL FILTERS: pushed as a parquet `FilterPredicate`; with no
  *    record assembly in the vectorized path this is row-group/page
  *    (column-index) pruning ONLY — provably-non-matching ranges are
  *    skipped, everything else surfaces and Spark's residual predicates
  *    re-check it, so the panel really is IO advice. Key columns exist
  *    in every store file (merge keys are payload from the seed on —
  *    evolution is additive), so the filter never references an absent
  *    column.
  *  - HADOOP CONF: files open with the session's Hadoop conf, captured
  *    on the driver ([[graft.sources.SessionHadoopConf]]) and shipped as
  *    `confMap`.
  *  - FILE SIZES come with the paths, from the driver's planning listing:
  *    they bound each file's split (no per-file status call) and are what
  *    the `filesSize` task metric sums over the files opened.
  */
class CdcColumnarReader(
    /** (path, on-disk size in bytes) per file, in read order. */
    files: Array[(String, Long)],
    requiredSchema: StructType,
    confMap: Map[String, String],
    keyFilters: Array[(String, Array[Any])] = Array.empty,
    constants: Map[String, Any] = Map.empty,
    sourceFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[ColumnarBatch] {

  // requiredSchema splits into file-decoded data columns and per-partition
  // constants; the vectorized reader emits [data ++ constants], which is
  // remapped back to requiredSchema order (constants are appended last by
  // every current caller, but the permutation keeps that a non-invariant)
  private val constFields = requiredSchema.fields.filter(f => constants.contains(f.name))
  private val dataSchema = StructType(requiredSchema.fields.filterNot(f => constants.contains(f.name)))
  private val constSchema = StructType(constFields)
  private val constRow = InternalRow.fromSeq(constFields.map(f => constants(f.name)).toIndexedSeq)
  private val outPos: Array[Int] = {
    val emitted = dataSchema.fieldNames ++ constSchema.fieldNames
    requiredSchema.fieldNames.map(n => emitted.indexOf(n))
  }
  private val identityOrder = outPos.zipWithIndex.forall { case (p, i) => p == i }

  /** Key panels as a parquet filter: AND of per-key OR-of-eq. */
  private val filterPredicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    val conjuncts: Seq[FilterPredicate] = keyFilters.toSeq.flatMap { case (name, values) =>
      val eqs: Seq[FilterPredicate] =
        requiredSchema.fields.find(_.name == name).map(_.dataType) match {
          case Some(LongType) =>
            values.toSeq.map(v => FilterApi.eq(
              FilterApi.longColumn(name), java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)))
          case Some(IntegerType) =>
            values.toSeq.map(v => FilterApi.eq(
              FilterApi.intColumn(name), java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue)))
          case Some(StringType) =>
            values.toSeq.map(v => FilterApi.eq(
              FilterApi.binaryColumn(name),
              org.apache.parquet.io.api.Binary.fromString(v.toString)))
          case _ => Nil
        }
      if (eqs.isEmpty) None else Some(eqs.reduce(FilterApi.or(_, _)))
    }
    conjuncts.reduceOption(FilterApi.and(_, _))
  }

  // executor-side, over the session's Hadoop conf. The confs are what
  // Spark's own parquet scan ships to its readers: the requested catalyst
  // schema plus the converter flags ParquetReadSupport/ParquetToSparkSchema-
  // Converter read (they are REQUIRED conf — the no-arg ReadSupport path
  // has no SQLConf to fall back on). ONE Configuration per partition
  // (construction copies the default resources — per-file would tax
  // every small file), shared across this partition's files: schema and
  // filter are partition-constant.
  private lazy val conf: Configuration = {
    val c = graft.sources.SessionHadoopConf.toConf(confMap)
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    c.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, false)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    filterPredicate.foreach(p => ParquetInputFormat.setFilterPredicate(c, p))
    c
  }

  /** The PUSHED SOURCE FILTERS as a per-file parquet predicate, through
    * Spark's own [[org.apache.spark.sql.execution.datasources.parquet.ParquetFilters]]
    * translator against the FILE's schema (columns a file predates simply
    * don't convert) — row-group and column-index (page) pruning on ANY
    * column, exactly what Spark's built-in parquet source pushes. Purely
    * IO advice here: the columnar path assembles no records, and Spark
    * re-evaluates every filter as a residual. ANDed with the key panels
    * (which also cover the runtime DPP values no v1 Filter carries). */
  private def sourceFilterFor(fileSchema: org.apache.parquet.schema.MessageType)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    if (sourceFilters.isEmpty) return None
    val pf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFilters(
      fileSchema,
      /* pushDownDate = */ true, /* pushDownTimestamp = */ true,
      /* pushDownDecimal = */ true, /* pushDownStringPredicate = */ true,
      /* pushDownInFilterThreshold = */ 10, /* caseSensitive = */ false,
      org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
        org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None))
    sourceFilters.toSeq.flatMap(f => pf.createFilter(f))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and(_, _))
  }

  private var fileIdx = -1
  private var opened = 0
  private var openedBytes = 0L
  private var reader: VectorizedParquetRecordReader = _
  private var batch: ColumnarBatch = _ // the reader's reused batch, remapped

  /** Files opened so far (every file counts, row groups pruned or not). */
  def filesOpened: Int = opened
  /** On-disk bytes of the files opened so far. */
  def bytesOpened: Long = openedBytes

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    CdcMetrics.readValues(opened, openedBytes)

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    batch = null
    fileIdx += 1
    if (fileIdx >= files.length) return false
    val (file, len) = files(fileIdx)
    val path = new Path(file)
    if (sourceFilters.nonEmpty) {
      // per-file: the translator needs the file's schema (one footer
      // metadata read; the panel part of the filter stays partition-
      // constant inside `conf` from filterPredicate above)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      val fileSchema = try footer.getFileMetaData.getSchema finally footer.close()
      (sourceFilterFor(fileSchema).toSeq ++ filterPredicate.toSeq)
        .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and(_, _)) match {
        case Some(p) => ParquetInputFormat.setFilterPredicate(conf, p)
        case None    => conf.unset(ParquetInputFormat.FILTER_PREDICATE)
      }
    }
    // every store/feed file is Spark-4-written (maintenance writes +
    // staging merges): modern calendar, no rebase — CORRECTED on both
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, CdcColumnarReader.BatchCapacity)
    val attempt = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft-cdc", 0), TaskType.MAP, 0), 0))
    r.initialize(new FileSplit(path, 0, len, Array.empty[String]), attempt)
    r.initBatch(constSchema, constRow)
    r.enableReturningBatches()
    reader = r
    opened += 1
    openedBytes += len
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !openNext()) return false
      if (reader.nextKeyValue()) {
        val raw = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        if (identityOrder) batch = raw
        else { // vectors are stable per file: wrap once, track row count
          if (batch == null)
            batch = new ColumnarBatch(outPos.map(raw.column), raw.numRows())
          batch.setNumRows(raw.numRows())
        }
        return true
      }
      reader.close(); reader = null; batch = null
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

object CdcColumnarReader {
  /** Rows per ColumnarBatch — Spark's own default
    * (`spark.sql.parquet.columnarReaderBatchSize`). */
  val BatchCapacity = 4096
}
