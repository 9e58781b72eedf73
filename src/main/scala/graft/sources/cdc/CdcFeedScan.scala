package graft.sources.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Cdc

/** The store's MATERIALIZED change feed as a catalog table — the Delta
  * Lake streaming-CDF contract on the engine's own store format:
  *
  *   spark.table("graft.x_changes")          // retained CDF history
  *   spark.readStream.table("graft.x_changes") // incremental tail
  *
  * Rows are exactly what the maintenance side landed at `feedPath/v=<id>`
  * ([[Cdc.maintainPartitionedSnapshot]]): the CDF-complete row shape —
  * payload + `_change_type` ∈ {insert, delete, update_preimage,
  * update_postimage} + `_commit_version` — so a downstream [[graft
  * .operators.Ivm]] view maintains incrementally off this table alone.
  *
  * Scale shape: the feed is append-only parquet, one `v=<id>` directory
  * per committed store version. A streaming OFFSET is a committed
  * version number ("everything ≤ v served"); each micro-batch plans one
  * input partition per FILE of the versions in `(start, end]` — no
  * listing beyond the new versions, no join, no state. Batch reads plan
  * every retained version the same way. Column pruning rides the same
  * per-file clipped projection as the store scan, so pre-evolution feed
  * files serve typed NULL for columns they predate.
  *
  * Retention (the Kafka contract, enforced LOUDLY): versions behind the
  * vacuum window are gone. A checkpointed stream that resumes inside the
  * window continues exactly-once; one whose next needed version was
  * vacuumed throws — never silently skips — because a consumer that
  * missed deltas must bootstrap from [[Cdc.readPartitionedSnapshot]],
  * not limp on with diverged state ([[Cdc.readFeedSince]]'s law). */
class CdcFeedTable(tableName: String, d: CdcCatalog.FeedDef) extends Table with SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability._

  private[cdc] val tableSchema: StructType = {
    // additive evolution means the STORE's newest recorded schema is the
    // superset every feed version's files clip into; schema and mapping
    // come from ONE resolution, so a commit landing mid-load cannot pair
    // one version's schema with another's column mapping
    val (_, meta, _, _) = Cdc.servingState(SparkSession.active, d.storePath)
    val payload = meta.schema
    // COLUMN MAPPING boundary (the Delta CDF restriction, enforced
    // loudly): feed versions materialized at or before a rename/drop
    // carry the OLD column names — clipping them into the post-mapping
    // schema would silently serve NULL for every renamed column. Refuse
    // exactly when the RETAINED feed history straddles the boundary;
    // once old versions are vacuumed/re-materialized past the change the
    // feed serves again (bootstrap new consumers from the snapshot).
    for (chg <- meta.mapChangeV) {
      val oldestRetained = CdcFeedScan.retainedUnits(d.feedPath).headOption.map(_.lo)
      require(oldestRetained.forall(_ > chg),
        s"$tableName: the store at ${d.storePath} changed its column mapping at " +
          s"v=$chg and the feed still retains versions from " +
          s"v=${oldestRetained.get} — change feeds do not span rename/drop " +
          "boundaries; vacuum/re-materialize the feed past the change and " +
          "bootstrap consumers from the snapshot")
    }
    val bad = payload.fields.filterNot(f => CdcCatalog.supportedType(f.dataType))
    require(bad.isEmpty,
      s"unsupported payload types in $tableName: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    StructType(payload.fields
      :+ StructField("_change_type", StringType, nullable = true)
      :+ StructField("_commit_version", LongType, nullable = true)
      // Delta-CDF parity: the committing version's wall clock — served as
      // a per-version constant from the feed commit marker's own mtime
      // (no column in the files, no extra metadata write)
      :+ StructField("_commit_timestamp", TimestampType, nullable = true))
  }

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(BATCH_READ); caps.add(MICRO_BATCH_READ); caps
  }
  override def partitioning(): Array[Transform] = Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcFeedScanBuilder(this, d, options)
}

class CdcFeedScanBuilder(
    table: CdcFeedTable, d: CdcCatalog.FeedDef, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = table.schema()
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pushedAggs: Option[Seq[CdcStatsScan.FooterAgg]] = None
  // inclusive version bounds accumulated from _commit_version conjuncts
  private var loV: Option[Long] = None
  private var hiV: Option[Long] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(table.schema().fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** VERSION pruning for batch consumers: `_commit_version` range
    * conjuncts (=, <, <=, >, >=, IN) narrow which `v=<id>` directories
    * the scan even lists — the incremental catch-up read
    * (`WHERE _commit_version > <checkpoint>`) opens only the new
    * versions' files. Every filter is returned as residual, so Spark
    * re-evaluates it on the rows and pruning stays layout advice, never
    * a correctness dependency. (Batch range reads are HISTORY queries
    * over the retained window — the loud lag contract belongs to the
    * streaming tail and `readFeedSince`, whose resume points promise
    * contiguity.) */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int  => Some(i.toLong)
      case _       => None
    }
    def tighten(lo: Option[Long], hi: Option[Long]): Unit = {
      loV = (loV.toSeq ++ lo.toSeq).maxOption
      hiV = (hiV.toSeq ++ hi.toSeq).minOption
    }
    filters.foreach {
      case EqualTo("_commit_version", v)            => asLong(v).foreach(l => tighten(Some(l), Some(l)))
      case EqualNullSafe("_commit_version", v)      => asLong(v).foreach(l => tighten(Some(l), Some(l)))
      case GreaterThan("_commit_version", v)        => asLong(v).foreach(l => tighten(Some(l + 1), None))
      case GreaterThanOrEqual("_commit_version", v) => asLong(v).foreach(l => tighten(Some(l), None))
      case LessThan("_commit_version", v)           => asLong(v).foreach(l => tighten(None, Some(l - 1)))
      case LessThanOrEqual("_commit_version", v)    => asLong(v).foreach(l => tighten(None, Some(l)))
      case In("_commit_version", vs) if vs.nonEmpty && vs.forall(v => asLong(v).isDefined) =>
        tighten(Some(vs.flatMap(asLong).min), Some(vs.flatMap(asLong).max))
      case _ => ()
    }
    pushed = filters
    filters // all residual: Spark re-checks every predicate on the rows
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** Footer-statistics aggregates for feed MONITORING queries —
    * unfiltered `COUNT(*)` (row counts from block metadata, no column
    * stats needed) and MIN/MAX/COUNT over PAYLOAD columns fold from
    * footers, zero page decode ([[CdcStatsScan]], one partition per feed
    * unit). CDF metadata columns refuse: `_change_type` is data the
    * files carry (fine), but `_commit_version`/`_commit_timestamp` are
    * per-unit CONSTANTS in fine-grained versions — absent from those
    * footers, so folding them from statistics would silently misread a
    * constant as all-NULL. Partial pushdown; any version-range or other
    * filter keeps the real scan (all filters are residual, so Spark
    * never offers aggregates when one is present — the loV/hiV guard is
    * belt and braces). */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (pushed.nonEmpty || loV.isDefined || hiV.isDefined) return false
    // `_change_type` is data the files carry; the version/timestamp
    // CONSTANT columns are excluded (absent from fine-grained footers —
    // folding a constant from statistics would misread it as all-NULL).
    // No non-null contract on any feed column.
    pushedAggs = CdcStatsScan.parseAggregation(
      aggregation, table.schema(),
      excluded = Set("_commit_version", "_commit_timestamp"),
      nonNullCols = Set.empty,
      trustStringStats = d.trustStringStats)
    pushedAggs.isDefined
  }

  override def build(): Scan = {
    pushedAggs match {
      case Some(aggs) =>
        val filesByUnit: Map[Int, Array[String]] =
          CdcFeedScan.retainedUnits(d.feedPath).zipWithIndex.map { case (u, i) =>
            i -> CdcFeedScan.dirFiles(CdcFeedScan.unitDir(d.feedPath, u)).map(_._1).toArray
          }.toMap
        return new CdcStatsScan(table.name(), aggs, filesByUnit)
      case None => ()
    }
    val maxVersions = Option(options.get("maxVersionsPerTrigger")).map { s =>
      val n = s.toInt
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }
    val startingVersion = Option(options.get("startingVersion")).map(_.toLong)
    // Delta-CDF parity: a stream may pin its start by COMMIT TIME instead
    // of version — epoch millis or a SQL timestamp string; resolved
    // against the per-version commit markers at stream init
    val startingTimestamp = Option(options.get("startingTimestamp")).map { s =>
      if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
      else java.sql.Timestamp.valueOf(s).getTime
    }
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    // Bootstrap mode (Delta's "snapshot + CDF" consumer shape): the first
    // micro-batch serves the store's CURRENT snapshot as `insert` rows,
    // then the tail continues with the CDF deltas after it — how a NEW
    // consumer materializes downstream state without a separate batch
    // backfill job racing the stream.
    val initialSnapshot = Option(options.get("initialSnapshot")).exists(_.toBoolean)
    require(!initialSnapshot || (startingVersion.isEmpty && startingTimestamp.isEmpty),
      "initialSnapshot already pins the start (the snapshot's own version) — " +
        "it is mutually exclusive with startingVersion/startingTimestamp")
    // bootstrap admission: at most n snapshot BUCKETS per micro-batch, so
    // a store-sized batch 0 replays as bounded chunks instead of one
    // giant batch sized by the whole snapshot
    val maxBuckets = Option(options.get("maxBucketsPerTrigger")).map { s =>
      val n = s.toInt
      require(n > 0, s"maxBucketsPerTrigger must be positive, got $n")
      n
    }
    new CdcFeedScan(table.name(), required, d, maxVersions, loV, hiV,
      startingVersion, startingTimestamp, initialSnapshot, maxBuckets)
  }
}

class CdcFeedScan(
    tableName: String,
    requiredSchema: StructType,
    d: CdcCatalog.FeedDef,
    maxVersionsPerTrigger: Option[Int] = None,
    loVersion: Option[Long] = None,
    hiVersion: Option[Long] = None,
    startingVersion: Option[Long] = None,
    startingTimestampMillis: Option[Long] = None,
    initialSnapshot: Boolean = false,
    maxBucketsPerTrigger: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {

  // the session's Hadoop conf, captured once for this scan's readers
  private lazy val confMap: Map[String, String] = graft.sources.SessionHadoopConf.capture()

  /** Units OVERLAPPING the pushed version range: a compacted segment is
    * included whole when any of its versions is wanted — the residual
    * `_commit_version` predicates (every pushed filter is returned
    * residual) trim the over-read exactly. */
  private[cdc] def plannedUnits: Seq[CdcFeedScan.FeedUnit] =
    CdcFeedScan.retainedUnits(d.feedPath)
      .filter(u => loVersion.forall(u.hi >= _) && hiVersion.forall(u.lo <= _))

  private[cdc] def plannedVersions: Seq[Long] =
    plannedUnits.flatMap(u => u.lo to u.hi)
      .filter(v => loVersion.forall(v >= _) && hiVersion.forall(v <= _))

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** Real sizes for the planner — the VERSION-PRUNED byte count, so an
    * incremental catch-up read (usually a few small versions) broadcasts
    * when joined against big state instead of being costed like the
    * whole retained history. */
  override def estimateStatistics(): Statistics = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val bytes = plannedUnits.map { u =>
      val dir = new Path(CdcFeedScan.unitDir(d.feedPath, u))
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  override def description(): String = {
    val all = CdcFeedScan.retainedVersions(d.feedPath)
    s"$tableName feed versions=${plannedVersions.size}/${all.size} " +
      s"cols=${requiredSchema.fieldNames.mkString(",")}"
  }

  override def planInputPartitions(): Array[InputPartition] =
    plannedUnits
      .flatMap(u => CdcFeedScan.unitPartitions(d.feedPath, u))
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(requiredSchema, confMap)

  // the shared reader (CdcColumnarReader) reports
  // per-task scan metrics; Spark's CustomMetrics.updateMetrics silently
  // DROPS any name the scan does not declare, so without this override
  // feed/bootstrap reads would lose the observability the store scan has
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] = CdcMetrics.scanMetrics

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcFeedStream(tableName, requiredSchema, d, maxVersionsPerTrigger,
      startingVersion, startingTimestampMillis, initialSnapshot, maxBucketsPerTrigger)
}

object CdcFeedScan {

  /** One atomic unit of retained feed history: a single `v=<id>`
    * directory, or a compacted `seg=<from>-<to>` segment
    * ([[Cdc.compactFeed]]) — the latter replays WHOLE (its rows carry
    * `_commit_version`/`_commit_timestamp` as data, so batch residual
    * filters stay exact, but the streaming tail cannot split it). */
  private[cdc] sealed trait FeedUnit {
    def lo: Long; def hi: Long
    def size: Long = hi - lo + 1
  }
  private[cdc] case class SingleVersion(v: Long) extends FeedUnit {
    def lo: Long = v; def hi: Long = v
  }
  private[cdc] case class FeedSegment(lo: Long, hi: Long) extends FeedUnit

  /** Retained units in version order: committed segments plus the single
    * dirs they don't cover (a covered single is a crashed compaction's
    * leftover mid-delete; the segment wins). */
  private[cdc] def retainedUnits(feedPath: String): Seq[FeedUnit] = {
    val spark = SparkSession.active
    val segs = Cdc.feedSegments(spark, feedPath)
    val inSeg = (v: Long) => segs.exists { case (lo, hi) => v >= lo && v <= hi }
    (segs.map { case (lo, hi) => FeedSegment(lo, hi): FeedUnit } ++
      Cdc.feedVersions(spark, feedPath).filterNot(inSeg).map(SingleVersion(_): FeedUnit))
      .sortBy(_.lo)
  }

  private[cdc] def retainedVersions(feedPath: String): Seq[Long] =
    retainedUnits(feedPath).flatMap(u => u.lo to u.hi)

  /** Driver-side listing of one directory's part files: (path, on-disk
    * size), by path. The one listing for every CDC scan (store buckets and
    * their delta levels, feed units, footer statistics): a missing
    * directory throws `FileNotFoundException`, so a dir that vanished
    * under a planned scan fails it rather than reading as empty. */
  private[cdc] def dirFiles(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.toString -> st.getLen)
      .sortBy(_._1)
  }

  private[cdc] def unitDir(feedPath: String, u: FeedUnit): String = u match {
    case SingleVersion(v)    => s"$feedPath/v=$v"
    case FeedSegment(lo, hi) => s"$feedPath/seg=$lo-$hi"
  }

  /** One input partition per file of one unit. Single versions carry
    * their commit wall-clock (micros) for the `_commit_timestamp`
    * constant the reader serves; segment files carry the timestamp AS
    * DATA (materialized at compaction), flagged `tsInData`. */
  private[cdc] def unitPartitions(feedPath: String, u: FeedUnit): Seq[InputPartition] =
    u match {
      case SingleVersion(v) =>
        val tsMicros =
          graft.operators.Cdc.feedCommitTime(SparkSession.active, feedPath, v) * 1000L
        dirFiles(unitDir(feedPath, u)).map(f =>
          CdcFeedPartition(Array(f), tsMicros): InputPartition)
      case seg: FeedSegment =>
        dirFiles(unitDir(feedPath, seg)).map(f =>
          CdcFeedPartition(Array(f), 0L, tsInData = true): InputPartition)
    }
}

case class CdcFeedPartition(
    /** (path, on-disk size) per file. */
    files: Array[(String, Long)],
    commitTsMicros: Long = 0L,
    tsInData: Boolean = false)
    extends InputPartition

/** One bootstrap-snapshot slice: store files at `commitVersion`, served
  * as CDF `insert` rows via per-partition constants (`_change_type`,
  * `_commit_version`, `_commit_timestamp` exist in no store file). */
case class CdcSnapshotPartition(
    /** (path, on-disk size) per file. */
    files: Array[(String, Long)],
    commitVersion: Long,
    commitTsMicros: Long)
    extends InputPartition

/** Version-offset micro-batch tail of the feed. `CdcFeedOffset(v)` means
  * "every committed feed version ≤ v has been served". The maintainer's
  * version ids are Spark streaming batch ids, hence CONSECUTIVE — which
  * is what lets a resume detect a vacuumed gap instead of skipping it.
  *
  * Admission control: `option("maxVersionsPerTrigger", n)` caps each
  * micro-batch at n store versions (carried on Spark's `ReadLimit
  * .maxRows` — the unit here is VERSIONS). The point is catch-up: a
  * consumer resuming after long lag replays the backlog as n-version
  * batches instead of one giant batch sized by its outage. */
class CdcFeedStream(
    tableName: String,
    requiredSchema: StructType,
    d: CdcCatalog.FeedDef,
    maxVersionsPerTrigger: Option[Int] = None,
    startingVersion: Option[Long] = None,
    startingTimestampMillis: Option[Long] = None,
    initialSnapshot: Boolean = false,
    maxBucketsPerTrigger: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // the session's Hadoop conf, captured once for this stream's readers
  private lazy val confMap: Map[String, String] = graft.sources.SessionHadoopConf.capture()

  // Trigger.AvailableNow contract, implemented NATIVELY: Spark's generic
  // wrapper for sources without this trait hides the delegate's
  // getDefaultReadLimit (admission control silently degrades to one
  // drain-everything batch). Pin the end at query start; the run drains
  // up to it in admission-sized batches and terminates even if the
  // maintainer keeps committing.
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val units = CdcFeedScan.retainedUnits(d.feedPath)
    availableNowCap = Some(if (units.isEmpty) Long.MinValue else units.last.hi)
  }

  override def initialOffset(): Offset = {
    if (initialSnapshot) {
      // bootstrap: batch 0 is the store's newest committed snapshot as
      // `insert` CDF rows; the tail then continues from the NEXT version.
      // Needs a committed STORE version, not a feed one — a brand-new
      // consumer may start before the feed has accumulated anything.
      val vs = graft.operators.Cdc.manifestVersions(SparkSession.active, d.storePath)
      if (vs.isEmpty) throw new IllegalStateException(
        s"no committed store version under ${d.storePath} — initialSnapshot has " +
          "nothing to bootstrap from")
      return CdcFeedOffset(vs.max, snapshotPending = true)
    }
    val units = CdcFeedScan.retainedUnits(d.feedPath)
    if (units.isEmpty) throw new IllegalStateException(
      s"no committed feed versions under ${d.feedPath} — start the stream after " +
        "the store's maintainer has committed at least one feed version")
    startingVersion match {
      case Some(v) =>
        // Delta's startingVersion contract, enforced LOUDLY: a start
        // behind retention would silently skip vacuumed deltas, and a
        // start INSIDE a compacted segment would double-serve the
        // segment's earlier versions (a segment replays whole)
        require(v >= units.head.lo,
          s"startingVersion $v predates the oldest retained feed version ${units.head.lo} " +
            s"of $tableName — bootstrap from the snapshot table instead")
        units.find(u => v >= u.lo && v <= u.hi) match {
          case Some(u) if u.lo != v => throw new IllegalArgumentException(
            s"startingVersion $v is inside compacted segment [${u.lo},${u.hi}] of " +
              s"$tableName — a segment is the atomic replay unit; start at ${u.lo}, " +
              "or read the history as a batch with a _commit_version filter")
          case _ => ()
        }
        CdcFeedOffset(v - 1)
      case None => startingTimestampMillis match {
        case Some(ts) =>
          // the tail starts at the first version COMMITTED at or after
          // `ts` (the feed commit marker's own mtime — the same clock
          // _commit_timestamp serves). Resolved over the SINGLE versions
          // (compacted segments have no markers and replay whole — a ts
          // inside compacted history must bootstrap). The same retention
          // contract as startingVersion, both ways loud: a ts behind the
          // oldest resolvable commit would silently skip deltas, and a
          // ts after the newest commit names history that doesn't exist
          // yet (Delta parity — never an implicit "start at latest").
          val singles = units.collect { case CdcFeedScan.SingleVersion(v) => v }
          val times = singles.map(v =>
            v -> Cdc.feedCommitTime(SparkSession.active, d.feedPath, v))
          require(times.nonEmpty && ts >= times.head._2,
            s"startingTimestamp $ts ms predates the oldest retained single feed commit " +
              s"of $tableName (older history is vacuumed or compacted) — " +
              "bootstrap from the snapshot table instead")
          times.find(_._2 >= ts) match {
            case Some((v, _)) => CdcFeedOffset(v - 1)
            case None => throw new IllegalArgumentException(
              s"startingTimestamp $ts ms is after the newest feed commit " +
                s"(v=${times.last._1} @ ${times.last._2} ms) of $tableName")
          }
        case None => CdcFeedOffset(units.head.lo - 1) // oldest retained version
      }
    }
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxVersionsPerTrigger
      .map(n => org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(n.toLong))
      .getOrElse(org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (admission control)")

  /** The bootstrap snapshot's bucket directories at version `v`, in
    * sorted-bucket-id order — the deterministic enumeration offsets index
    * into. The manifest at a committed version is immutable, so the
    * enumeration is identical on every trigger and replay; vacuum
    * dropping `v` mid-bootstrap fails LOUDLY here (a consumer must not
    * silently continue from a snapshot that no longer exists). */
  private def snapshotDirs(v: Long): Seq[String] = {
    val (_, _, _, dirs) = Cdc.servingState(SparkSession.active, d.storePath, Some(v))
    dirs.toSeq.sortBy(_._1).map(_._2)
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val so = start.asInstanceOf[CdcFeedOffset]
    // pending bootstrap: advance the bucket watermark by the admission
    // cap (default: the whole snapshot in one batch); versions-based
    // admission (maxVersionsPerTrigger) doesn't apply inside a snapshot
    if (so.snapshotPending) {
      val total = snapshotDirs(so.v).length
      val nextK = math.min(total, so.snapshotBucket + maxBucketsPerTrigger.getOrElse(total))
      return if (nextK >= total) CdcFeedOffset(so.v)
      else CdcFeedOffset(so.v, snapshotPending = true, snapshotBucket = nextK)
    }
    val from = so.v
    // offsets only ever land on UNIT boundaries: a compacted segment is
    // atomic (its rows can't be split across micro-batches), so admission
    // control counts versions but always takes whole units — a segment
    // larger than the cap still ships as one batch when it's next
    val avail = CdcFeedScan.retainedUnits(d.feedPath)
      .filter(_.lo > from)
      .filter(u => availableNowCap.forall(u.hi <= _))
    if (avail.isEmpty) return start
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        r.maxRows().min(Int.MaxValue.toLong)
      case _ => Long.MaxValue
    }
    var taken = 0L
    var end = from
    val it = avail.iterator
    var full = false
    while (it.hasNext && !full) {
      val u = it.next()
      // the FIRST unit always ships (progress guarantee, segment atomicity);
      // stop at the first unit that would overflow the cap — never skip one
      if (taken == 0L || taken + u.size <= cap) { taken += u.size; end = u.hi }
      else full = true
    }
    CdcFeedOffset(end)
  }

  override def reportLatestOffset(): Offset = {
    val units = CdcFeedScan.retainedUnits(d.feedPath)
    if (units.isEmpty) null else CdcFeedOffset(units.last.hi)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[CdcFeedOffset]
    if (so.snapshotPending) {
      // a bootstrap batch: the slice of snapshot buckets between the two
      // offsets' watermarks, served straight from the store's bucket
      // directories — every row an `insert` at `_commit_version = so.v`
      // (per-partition constants, nothing materialized). Columns
      // evolution added AFTER so.v decode as typed NULLs, same as every
      // carried-bucket read.
      val spark = SparkSession.active
      val dirs = snapshotDirs(so.v)
      val eo = end.asInstanceOf[CdcFeedOffset]
      val toK = if (eo.snapshotPending) eo.snapshotBucket else dirs.length
      val tsMicros = graft.operators.Cdc.versionCommitTimes(spark, d.storePath)
        .collectFirst { case (v, ms) if v == so.v => ms * 1000L }
        .getOrElse(throw new IllegalStateException(
          s"store version ${so.v} has no commit marker under ${d.storePath} — " +
            "vacuum removed the bootstrap snapshot mid-stream; restart the " +
            "bootstrap (silently stamping epoch-0 commit timestamps would " +
            "mis-order the snapshot against later deltas)"))
      return dirs.slice(so.snapshotBucket, toK).flatMap { dir =>
        CdcFeedScan.dirFiles(dir).map(f =>
          CdcSnapshotPartition(Array(f), so.v, tsMicros): InputPartition)
      }.toArray
    }
    val from = so.v
    val to = end.asInstanceOf[CdcFeedOffset].v
    if (to <= from) return Array.empty
    val wanted = CdcFeedScan.retainedUnits(d.feedPath)
      .filter(u => u.lo > from && u.hi <= to)
    // retention law (Cdc.readFeedSince): versions are consecutive, so a
    // hole at the front means vacuum outran this consumer's checkpoint —
    // or compaction folded the resume point into a segment (offsets land
    // on unit boundaries, so a checkpoint can only end up inside a
    // segment when compaction ran PAST it; same contract, same loudness)
    if (wanted.isEmpty || wanted.head.lo > from + 1)
      throw new IllegalStateException(
        s"feed retention exceeded for $tableName: resume point v=$from needs " +
          s"v=${from + 1} but the oldest retained feed unit starts at " +
          s"${wanted.headOption.fold("<none>")(u => s"v=${u.lo}")} " +
          "(vacuumed, or compacted past the checkpoint); " +
          "bootstrap from the snapshot table instead")
    wanted.flatMap(u => CdcFeedScan.unitPartitions(d.feedPath, u)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(requiredSchema, confMap)

  override def deserializeOffset(json: String): Offset = CdcFeedOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `snapshotPending = true` means "the bootstrap snapshot at store
  * version `v` is NOT fully served yet": `snapshotBucket` counts how
  * many of the snapshot's bucket directories (in sorted-bucket-id
  * order — a deterministic, replay-stable enumeration) have shipped.
  * Micro-batches advance the bucket watermark (admission-controlled by
  * `maxBucketsPerTrigger`) until every bucket is out, then the flag
  * clears and the tail continues from `v + 1`. Plain-long json stays
  * the wire format for ordinary offsets, so pre-bootstrap checkpoints
  * keep resuming. */
case class CdcFeedOffset(
    v: Long,
    snapshotPending: Boolean = false,
    snapshotBucket: Int = 0) extends Offset {
  override def json(): String =
    if (snapshotPending)
      s"""{"v":$v,"snapshotPending":true,"snapshotBucket":$snapshotBucket}"""
    else v.toString
}

object CdcFeedOffset {
  private val SnapJson =
    """\{"v":(-?\d+),"snapshotPending":true(?:,"snapshotBucket":(\d+))?\}""".r
  def fromJson(json: String): CdcFeedOffset = json.trim match {
    case SnapJson(v, k) =>
      CdcFeedOffset(v.toLong, snapshotPending = true,
        snapshotBucket = Option(k).map(_.toInt).getOrElse(0))
    case plain => CdcFeedOffset(plain.toLong)
  }
}
