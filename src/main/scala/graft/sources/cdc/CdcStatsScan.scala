package graft.sources.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pushed MIN / MAX / COUNT answered from parquet FOOTER STATISTICS —
  * no page decode, no record assembly: each partition opens only its
  * bucket's file footers (a few KB each) and folds the row-group
  * statistics into one partial row; Spark's final aggregate merges the
  * partials (min of mins, sum of counts — the standard V2 partial
  * pushdown contract, AQE-safe).
  *
  * At 100 TB this turns `SELECT min(ts), max(ts), count(*) FROM store`
  * from a full-table decode into footer metadata IO proportional to the
  * FILE COUNT, distributed across executors (never a driver loop) — the
  * same trick Spark's built-in parquet source plays under
  * `spark.sql.parquet.aggregatePushdown`, speaking the store's own
  * layout.
  *
  * Correct-or-decode: a FILE whose footer can't vouch for an aggregate
  * (writer disabled column statistics, binary min/max over the 4 KB
  * size cap, unset null counts) is answered by row-decoding THAT ONE
  * FILE's needed columns ([[CdcStatsReader.decodeFile]]) — exact
  * answers either way, footer-only cost everywhere the footers
  * cooperate, and no 3-hour job dying at hour two over one exotic file
  * (the `statsFallbackFiles` task metric counts the degradations).
  * All-NULL chunks are fine (min/max skip them; null counts are exact).
  * Store files carry only LIVE rows (merge rewrites buckets, `op=D`
  * rows never land), so footer statistics ARE snapshot statistics. */
object CdcStatsScan {
  /** One pushed aggregate, in output order. */
  private[cdc] sealed trait FooterAgg
  private[cdc] case class FMin(col: String, dt: DataType) extends FooterAgg
  private[cdc] case class FMax(col: String, dt: DataType) extends FooterAgg
  /** `nonNull` = merge-key column (non-null by the store's contract):
    * counts rows directly, no null statistics needed. `dt` is the
    * column's type — only the per-file row-decode FALLBACK needs it. */
  private[cdc] case class FCount(col: String, nonNull: Boolean, dt: DataType) extends FooterAgg
  private[cdc] case object FCountStar extends FooterAgg

  /** Types whose parquet row-group statistics order matches Spark's:
    * integral/floating natural order, DATE = INT32 days, BOOLEAN
    * false<true, STRING = parquet UTF8 unsigned-byte comparator ≡
    * UTF8String's byte-wise compare. (Timestamps are not in the store's
    * supported payload set.) */
  private[cdc] val MinMaxTypes: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, FloatType, DateType, BooleanType, StringType)

  /** String MIN/MAX from footers is only sound when the writer did not
    * TRUNCATE binary statistics (`parquet.statistics.truncate.length`):
    * parquet-mr truncates silently — the stored max is a prefix rounded
    * UP past every real value, the min a bare prefix, and nothing in the
    * converted metadata marks them inexact (parquet-format's
    * `is_min/max_value_exact` flags exist in the thrift but parquet-mr
    * 1.16 neither writes nor reads them — verified against the shipped
    * jars), so the correct-or-loud guard can never fire and a pushed
    * `max(name)` could return a string that exists in no row. Upstream
    * Spark excludes String/Binary from parquet min/max aggregate
    * pushdown for exactly this reason. Default OFF; a registration opts
    * in (`trustStringStats = true`, [[CdcCatalog.StoreDef]]) only for
    * stores whose writers provably keep statistics exact — the engine's
    * own writers do unless the session sets a truncate length
    * (parquet-mr's default is no truncation; the 4 KB size-cap DROP is a
    * separate case this scan already handles loudly). */

  /** Pushed-aggregate output schema. Spark matches the scan's output to
    * the pushed expressions POSITIONALLY, but the names must still be
    * unique for the schema to be well-formed — and Spark itself rewrites
    * COUNT(non-nullable col) to COUNT(*) before pushing, so two
    * `count(*)` entries arrive together routinely; duplicates get an
    * ordinal suffix. */
  private[cdc] def schemaFor(aggs: Seq[FooterAgg]): StructType = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    StructType(aggs.map { a =>
      val base = a match {
        case FMin(c, _)   => s"min($c)"
        case FMax(c, _)   => s"max($c)"
        case FCount(c, _, _) => s"count($c)"
        case FCountStar   => "count(*)"
      }
      val n = seen.getOrElse(base, 0)
      seen(base) = n + 1
      val name = if (n == 0) base else s"${base}_$n"
      a match {
        case FMin(_, dt) => StructField(name, dt, nullable = true)
        case FMax(_, dt) => StructField(name, dt, nullable = true)
        case _           => StructField(name, LongType, nullable = false)
      }
    })
  }

  /** Shared aggregation parser for the store and feed scan builders: each
    * expression must be COUNT(*) / non-distinct COUNT(col) / MIN / MAX
    * over a supported-type top-level column of `schema` not in
    * `excluded`; columns in `nonNullCols` count by row count alone (no
    * null statistics needed). `None` on any unsupported shape — the
    * caller refuses the whole aggregation (partial acceptance would
    * change the plan's meaning). */
  private[cdc] def parseAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      schema: StructType,
      excluded: Set[String],
      nonNullCols: Set[String],
      trustStringStats: Boolean): Option[Seq[FooterAgg]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (aggregation.groupByExpressions().nonEmpty) return None
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          schema.fieldNames.contains(r.fieldNames.head) &&
          !excluded.contains(r.fieldNames.head) => Some(r.fieldNames.head)
        case _ => None
      }
    def minMaxCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] =
      fieldOf(e).map(c => c -> schema(c).dataType)
        .filter { case (_, dt) =>
          MinMaxTypes.contains(dt) &&
            (dt != StringType || trustStringStats) }
    val parsed: Seq[Option[FooterAgg]] = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(FCountStar)
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map(col =>
          FCount(col, nonNull = nonNullCols.contains(col), schema(col).dataType))
      case m: Min => minMaxCol(m.column).map { case (c, dt) => FMin(c, dt) }
      case m: Max => minMaxCol(m.column).map { case (c, dt) => FMax(c, dt) }
      case _ => None
    }
    if (parsed.isEmpty || parsed.exists(_.isEmpty)) None else Some(parsed.map(_.get))
  }
}

class CdcStatsScan(
    tableName: String,
    aggs: Seq[CdcStatsScan.FooterAgg],
    filesByBucket: Map[Int, Array[String]])
    extends Scan with Batch {
  import CdcStatsScan._

  override def readSchema(): StructType = schemaFor(aggs)
  override def toBatch: Batch = this
  override def description(): String = {
    val names = readSchema().fieldNames.mkString(",")
    s"$tableName footer-stats aggs=$names buckets=${filesByBucket.count(_._2.nonEmpty)} (no row decode)"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = filesByBucket.toSeq.sortBy(_._1)
      .collect { case (_, files) if files.nonEmpty =>
        CdcStatsPartition(files): InputPartition }
      .toArray
    // an EMPTY source must still emit one (zero-count) partial row:
    // Spark's partial-pushdown rewrite turns the final COUNT into a SUM
    // of the partials, and SUM over zero rows is NULL — the un-pushed
    // plan would have returned 0
    if (parts.isEmpty) Array(CdcStatsPartition(Array.empty)) else parts
  }

  // declare the readers' metrics (Spark silently drops undeclared names)
  // so footer-vs-fallback behavior is observable in the UI
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] = CdcMetrics.scanMetrics

  // the session's Hadoop conf, captured once for this scan's readers
  override def createReaderFactory(): PartitionReaderFactory =
    new CdcStatsReaderFactory(aggs, graft.sources.SessionHadoopConf.capture())
}

case class CdcStatsPartition(files: Array[String]) extends InputPartition

class CdcStatsReaderFactory(aggs: Seq[CdcStatsScan.FooterAgg], confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CdcStatsReader(p.asInstanceOf[CdcStatsPartition].files, aggs, confMap)
}

/** Folds one bucket's file footers into a single partial-aggregate row.
  *
  * GRACEFUL DEGRADATION: a file whose footer cannot vouch for an
  * aggregate (writer disabled column statistics, binary min/max over
  * the 4 KB size cap, null counts unset) is answered by DECODING THAT
  * ONE FILE's needed columns through the vectorized reader instead of
  * failing the job — the other 99.9% of a large store keeps the
  * footer-only cost, and a 3-hour job never dies at hour two over one
  * exotic file. Exactness is preserved: the fallback reads rows, it
  * never guesses. */
class CdcStatsReader(
    files: Array[String], aggs: Seq[CdcStatsScan.FooterAgg], confMap: Map[String, String])
    extends PartitionReader[InternalRow] {
  import CdcStatsScan._

  private var served = false
  private var row: InternalRow = _
  private var decodedFiles = 0L

  override def next(): Boolean = {
    if (served) return false
    served = true
    row = fold()
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CdcMetrics.Value("filesOpened", files.length.toLong),
      CdcMetrics.Value("statsFallbackFiles", decodedFiles))

  /** Signals "this FILE's footer can't answer" — caught per file to
    * trigger the row-decode fallback, never escaping the reader. */
  private class MissingStatsException(msg: String) extends RuntimeException(msg)

  private def fold(): InternalRow = {
    val conf = graft.sources.SessionHadoopConf.toConf(confMap)
    // running partials, positionally aligned with `aggs`
    val mins = new Array[Any](aggs.length)
    val maxs = new Array[Any](aggs.length)
    val counts = new Array[Long](aggs.length)
    for (f <- files) {
      // per-FILE partials: a fallback discards the file's partial footer
      // fold cleanly and recomputes the whole file from rows
      val fm = new Array[Any](aggs.length)
      val fx = new Array[Any](aggs.length)
      val fc = new Array[Long](aggs.length)
      try foldFooter(f, conf, fm, fx, fc)
      catch {
        case _: MissingStatsException =>
          java.util.Arrays.fill(fm.asInstanceOf[Array[Object]], null)
          java.util.Arrays.fill(fx.asInstanceOf[Array[Object]], null)
          java.util.Arrays.fill(fc, 0L)
          decodeFile(f, conf, fm, fx, fc)
          decodedFiles += 1
      }
      aggs.zipWithIndex.foreach { case (a, i) =>
        a match {
          case FMin(_, dt) if fm(i) != null =>
            if (mins(i) == null || lt(fm(i), mins(i), dt)) mins(i) = fm(i)
          case FMax(_, dt) if fx(i) != null =>
            if (maxs(i) == null || lt(maxs(i), fx(i), dt)) maxs(i) = fx(i)
          case _ => ()
        }
        counts(i) += fc(i)
      }
    }
    InternalRow.fromSeq(aggs.zipWithIndex.map {
      case (FMin(_, _), i)   => mins(i)
      case (FMax(_, _), i)   => maxs(i)
      case (FCount(_, _, _), i) => counts(i)
      case (FCountStar, i)   => counts(i)
    })
  }

  /** Footer-statistics fold of ONE file into the per-file partials;
    * throws [[MissingStatsException]] the moment any needed statistic is
    * absent (the caller falls back to decoding the file). */
  private def foldFooter(
      f: String, conf: Configuration,
      mins: Array[Any], maxs: Array[Any], counts: Array[Long]): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try {
      import scala.jdk.CollectionConverters._
      for (block <- reader.getFooter.getBlocks.asScala) {
        val rows = block.getRowCount
        def chunk(col: String) = block.getColumns.asScala
          .find(_.getPath.toDotString == col)
          .getOrElse(throw new MissingStatsException(s"column $col absent from $f"))
        def stats(col: String) = {
          val st = chunk(col).getStatistics
          if (st == null || st.isEmpty)
            throw new MissingStatsException(s"no parquet statistics for $col in $f")
          st
        }
        def hasColumn(col: String) =
          block.getColumns.asScala.exists(_.getPath.toDotString == col)
        aggs.zipWithIndex.foreach {
          case (FCountStar, i) => counts(i) += rows
          case (FCount(c, nonNull, _), i) =>
            if (nonNull) counts(i) += rows
            else if (hasColumn(c)) {
              val st = stats(c)
              if (!st.isNumNullsSet)
                throw new MissingStatsException(s"null count not recorded for $c in $f")
              counts(i) += rows - st.getNumNulls
            } // absent column (pre-evolution file): all NULL, adds 0
          case (FMin(c, dt), i) if hasColumn(c) =>
            val st = stats(c)
            if (st.hasNonNullValue) {
              val v = internal(st.genericGetMin(), dt)
              if (mins(i) == null || lt(v, mins(i), dt)) mins(i) = v
            } else requireAllNull(st, rows, c, f)
          case (FMax(c, dt), i) if hasColumn(c) =>
            val st = stats(c)
            if (st.hasNonNullValue) {
              val v = internal(st.genericGetMax(), dt)
              if (maxs(i) == null || lt(maxs(i), v, dt)) maxs(i) = v
            } else requireAllNull(st, rows, c, f)
          case _ => () // min/max over a column this file predates: all NULL
        }
      }
    } finally reader.close()
  }

  /** Row-decode fallback for ONE file: vectorized decode of exactly the
    * columns the aggregates need, folding min/max/non-null counts from
    * values — same exact answers, file-local cost. */
  private def decodeFile(
      f: String, conf: Configuration,
      mins: Array[Any], maxs: Array[Any], counts: Array[Long]): Unit = {
    // COUNT(*) / COUNT(non-null key) come from the footer's row count —
    // that metadata exists in every parquet file regardless of statistics
    val in = HadoopInputFile.fromPath(new Path(f), conf)
    val fileRows = {
      val r = ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    val needed: Seq[(String, DataType)] = aggs.collect {
      case FCount(c, false, dt) => c -> dt
      case FMin(c, dt)          => c -> dt
      case FMax(c, dt)          => c -> dt
    }.distinct
    val schema = StructType(needed.map { case (c, dt) => StructField(c, dt, nullable = true) })
    val idx: Map[String, Int] = needed.map(_._1).zipWithIndex.toMap
    if (needed.nonEmpty) {
      val rdr = new CdcColumnarReader(Array(f -> in.getLength), schema, confMap)
      try {
        while (rdr.next()) {
          val batch = rdr.get()
          var r = 0
          while (r < batch.numRows()) {
            aggs.zipWithIndex.foreach {
              case (FCount(c, false, _), i) =>
                if (!batch.column(idx(c)).isNullAt(r)) counts(i) += 1
              case (FMin(c, dt), i) =>
                val col = batch.column(idx(c))
                if (!col.isNullAt(r)) {
                  val v = vectorValue(col, r, dt)
                  if (mins(i) == null || lt(v, mins(i), dt)) mins(i) = v
                }
              case (FMax(c, dt), i) =>
                val col = batch.column(idx(c))
                if (!col.isNullAt(r)) {
                  val v = vectorValue(col, r, dt)
                  if (maxs(i) == null || lt(maxs(i), v, dt)) maxs(i) = v
                }
              case _ => ()
            }
            r += 1
          }
        }
      } finally rdr.close()
    }
    aggs.zipWithIndex.foreach {
      case (FCountStar, i)           => counts(i) += fileRows
      case (FCount(_, true, _), i)   => counts(i) += fileRows
      case _                         => ()
    }
  }

  private def vectorValue(
      col: org.apache.spark.sql.vectorized.ColumnVector, r: Int, dt: DataType): Any =
    dt match {
      case LongType               => col.getLong(r)
      case IntegerType | DateType => col.getInt(r)
      case DoubleType             => col.getDouble(r)
      case FloatType              => col.getFloat(r)
      case BooleanType            => col.getBoolean(r)
      case StringType             => col.getUTF8String(r).copy()
      case t => throw new IllegalStateException(s"unsupported fallback type $t")
    }

  /** min/max unset is only sound when the chunk is provably all-NULL;
    * anything else means the writer dropped the statistics — decode the
    * file instead. */
  private def requireAllNull(
      st: org.apache.parquet.column.statistics.Statistics[_],
      rows: Long, col: String, file: String): Unit =
    if (!(st.isNumNullsSet && st.getNumNulls == rows))
      throw new MissingStatsException(
        s"min/max statistics missing for $col in $file (not an all-NULL chunk)")

  /** Parquet statistics value → Catalyst internal value. Widened columns
    * ([[graft.operators.Cdc.widenColumn]]): a pre-widening file's footer
    * carries the NARROW boxed type — up-cast so the fold compares one
    * type (exact embeddings both). */
  private def internal(v: Any, dt: DataType): Any = (dt, v) match {
    case (StringType, _) => UTF8String.fromBytes(
      v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
    case (LongType, i: java.lang.Integer)  => i.longValue()
    case (DoubleType, f: java.lang.Float)  => f.doubleValue()
    case _ => v // Long/Int/Double/Float/Boolean box straight through; DATE = Int days
  }

  /** Spark ordering over internal values for the supported types.
    * UTF8String.compareTo is unsigned byte-wise — exactly parquet's UTF8
    * comparator, so footer min/max fold consistently with Spark's. */
  private def lt(a: Any, b: Any, dt: DataType): Boolean = dt match {
    case LongType    => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case IntegerType | DateType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    // Double.compare, not `<`: NaN orders LARGEST — the same total order
    // parquet-mr's statistics comparator folds with and Spark compares
    // with, so a NaN-carrying store still answers min/max like the scan
    case DoubleType  => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
    case FloatType   => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float]) < 0
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case StringType  => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0
    case t => throw new IllegalStateException(s"unsupported min/max type $t")
  }
}
