package graft.sources.cdc

import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SessionHadoopConf

/** Column-pruning, bucket-pruning scan over a CDC store's directories.
  *
  * Scale shape: planning is nBuckets-bounded driver metadata (the
  * manifest's bucket → dir map came with the table; one LIST per
  * non-empty bucket resolves files). Each input partition is ONE bucket
  * carrying `HasPartitionKey` = its bucket id, and the scan reports
  * `KeyGroupedPartitioning(bucket(n, keys), n)` — together these are
  * what lets Spark prove two store scans co-partitioned and plan their
  * join with no Exchange (storage-partitioned join). An unfiltered scan
  * emits every bucket 0..n-1, empty ones included, so both sides of a
  * join always expose identical partition-key sets.
  *
  * Pushdown, both kinds:
  *  - COLUMNS ride the reader's requested schema — only requested
  *    columns are decoded. The projection is clipped per file against the
  *    file's own schema, so buckets carried by reference across an
  *    ADDITIVE schema evolution serve typed NULLs for columns their
  *    files predate (the same contract as
  *    [[graft.operators.Cdc.readPartitionedSnapshot]]'s DataFrame readers).
  *  - FILTERS that pin the merge key prune BUCKETS: an `=` conjunct on
  *    every key (or a bounded `IN` panel on a single-key store) hashes
  *    its literals through the store's own bucket function driver-side
  *    and the scan plans ONLY those buckets' partitions — the catalog
  *    twin of [[graft.operators.Cdc.lookupKeys]]'s pruned point reads.
  *    Spark re-evaluates every pushed filter on the returned rows, so
  *    pruning is layout advice, never a correctness dependency.
  *
  * The scan also reports its size ([[SupportsReportStatistics]]: the
  * pruned file bytes), so join planning sees real sizes — a
  * dimension-sized store broadcasts, store-scale sides keep the SPJ
  * shape. */
class CdcScanBuilder(table: CdcStoreTable, d: CdcCatalog.StoreDef)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty
  private var prunedBuckets: Option[Set[Int]] = None
  private var pushedLimit: Option[Int] = None
  private var pushedAggs: Option[Seq[CdcStatsScan.FooterAgg]] = None
  // every predicate Spark hands us, kept verbatim for the reader: the
  // parquet-convertible subset (Spark's own ParquetFilters decides, per
  // file) prunes row groups/pages on ANY column — the same stats
  // pushdown Spark's built-in parquet source does. Purely IO advice in
  // the columnar path (no record assembly); Spark re-evaluates every
  // one of these as residuals.
  private var dataFilters: Array[Filter] = Array.empty
  // per-key literal panels, kept even when they don't pin every key: a
  // single key's panel can't prune BUCKETS on a composite store, but it
  // still skips ROW GROUPS inside every bucket (sorted files carry tight
  // key statistics; the reader pushes the panel into parquet's filter)
  private var keyPanels: Map[String, Seq[Any]] = Map.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve payload field order; an empty projection (count(*)) keeps
    // zero fields and the reader just counts rows. The `_bucket`
    // METADATA column (SupportsMetadataColumns) appends last when the
    // query names it — served as a per-partition constant, never read
    // from files.
    required = StructType((table.schema().fields ++
      table.metadataColumns().map(m => StructField(
        m.name, m.dataType, m.isNullable))).filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import CdcScan.MaxInPanel
    // per-key literal value panel from `=` / null-safe `=` / IN
    // (several conjuncts on one key → the tightest panel wins)
    val panels: Map[String, Seq[Any]] = filters.toSeq.collect {
      case EqualTo(a, v) if d.keys.contains(a) && v != null       => a -> Seq(v)
      case EqualNullSafe(a, v) if d.keys.contains(a) && v != null => a -> Seq(v)
      case In(a, vs) if d.keys.contains(a) && vs.nonEmpty &&
        vs.length <= MaxInPanel && !vs.contains(null)             => a -> vs.toSeq
    }.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).minBy(_.length) }
    keyPanels = panels
    dataFilters = filters
    prunedBuckets = CdcScan.panelBuckets(
      d.keys, d.keys.map(k => table.schema()(k).dataType), d.nBuckets, panels)
    if (prunedBuckets.isDefined)
      pushed = filters.filter {
        case EqualTo(a, _) => d.keys.contains(a)
        case EqualNullSafe(a, _) => d.keys.contains(a)
        case In(a, _) => d.keys.contains(a)
        case _ => false
      }
    filters // Spark re-evaluates everything; pruning is layout advice
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown as PARTITION-COUNT pruning: an unfiltered
    * `LIMIT n` needs any n rows, and the manifest already knows each
    * bucket's row count — so the scan plans only enough buckets to cover
    * n instead of one task per bucket (a `LIMIT 10` over a 1024-bucket
    * store schedules 1 partition, not 1024). PARTIAL pushdown
    * (`isPartiallyPushed = true`): Spark keeps its own LocalLimit /
    * GlobalLimit, so the scan only ever has to over-deliver, never
    * under-deliver — which is why any data filter disqualifies (a
    * residual filter could thin a planned bucket below n; bucket-pruning
    * key panels are fine: Spark re-checks them but they hold by
    * construction, so planned buckets contain exactly the matching
    * keys' rows... conservatively we still require NO filters at all —
    * pruning decisions must never depend on a panel being exact). */
  override def pushLimit(limit: Int): Boolean = {
    val clean = limit > 0 && dataFilters.isEmpty && keyPanels.isEmpty &&
      prunedBuckets.isEmpty &&
      // pending merge-on-read deltas: resolved bucket counts are unknown
      // (and a delta-only bucket isn't even in bucketDirs), so the
      // count-covering prefix can't be proven — plan every bucket.
      // Lazily-split children likewise: a child's slice has no count of
      // its own, so an explicit guard (belt to the row-count braces —
      // any recorded count for a sliced child would be wrong, not just
      // absent) keeps LIMIT planning off split stores until rewrite.
      table.bucketDeltaDirs.isEmpty && table.slicedBuckets.isEmpty &&
      table.bucketDirs.keySet.forall(table.bucketRows.contains)
    if (clean) pushedLimit = Some(limit)
    clean
  }

  override def isPartiallyPushed(): Boolean = true

  /** METADATA-ONLY aggregates, two tiers (PARTIAL pushdown both —
    * `supportCompletePushDown = false` — so the scan emits partial rows
    * and Spark's final aggregate merges them; the standard V2 contract,
    * AQE-safe):
    *
    *  - COUNT(*) / COUNT(merge key): the manifest already records every
    *    bucket's row count ([[graft.operators.Cdc
    *    .processPartitionedBatch]]), so these answer from
    *    nBuckets-bounded driver metadata with ZERO file IO
    *    ([[CdcCountScan]]) when every bucket carries a recorded count.
    *  - MIN / MAX / COUNT(nullable col): answered from parquet FOOTER
    *    statistics ([[CdcStatsScan]]) — per-bucket partitions fold
    *    row-group min/max/null-counts executor-side, no page decode.
    *
    * Guarded hard: no grouping, every aggregate expression must be a
    * supported shape (any mix of COUNT(*) / COUNT(col) / MIN / MAX over
    * supported-type top-level columns — DISTINCT and SUM refuse: footers
    * carry neither), and no pushed/residual filters (Spark only attempts
    * aggregate pushdown when no filter survives between the aggregate
    * and the scan; we additionally require no panels). */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (pushed.nonEmpty || keyPanels.nonEmpty || prunedBuckets.nonEmpty) return false
    // pending merge-on-read deltas: footer statistics and manifest counts
    // describe PRE-FOLD rows (tombstones included) — folding aggregates
    // from metadata would double-count updated keys and count deletes.
    // Lazily-split children: footer stats describe the PARENT's files
    // (shared by siblings — double-counted, unsliced). Refuse both;
    // compaction restores pushdown.
    if (table.bucketDeltaDirs.nonEmpty || table.slicedBuckets.nonEmpty) return false
    // merge keys are non-null by the store's contract: COUNT(key) needs
    // no null statistics, only row counts
    pushedAggs = CdcStatsScan.parseAggregation(
      aggregation, table.schema(), excluded = Set.empty, nonNullCols = d.keys.toSet,
      trustStringStats = d.trustStringStats)
    pushedAggs.isDefined
  }

  override def build(): Scan = {
    pushedAggs match {
      case Some(aggs) =>
        // counts-only over complete manifest counts: zero file IO
        val metadataOnly = aggs.forall {
          case CdcStatsScan.FCountStar => true
          case CdcStatsScan.FCount(_, nonNull, _) => nonNull
          case _ => false
        } && table.bucketDirs.keySet.forall(table.bucketRows.contains)
        if (metadataOnly)
          return new CdcCountScan(table.name(),
            table.bucketDirs.keySet.iterator.map(table.bucketRows).sum, aggs)
        // otherwise: fold footer statistics, one partition per bucket —
        // against the files' PHYSICAL column names (schemaFor's output
        // names are cosmetic; Spark matches pushed aggregates by position)
        val phys = (c: String) => table.physMap.getOrElse(c, c)
        val physAggs = aggs.map {
          case CdcStatsScan.FMin(c, dt)       => CdcStatsScan.FMin(phys(c), dt)
          case CdcStatsScan.FMax(c, dt)       => CdcStatsScan.FMax(phys(c), dt)
          case CdcStatsScan.FCount(c, nn, dt) => CdcStatsScan.FCount(phys(c), nn, dt)
          case CdcStatsScan.FCountStar        => CdcStatsScan.FCountStar
        }
        val statFiles: Map[Int, Array[String]] = table.bucketDirs.map { case (b, dir) =>
          b -> CdcFeedScan.dirFiles(dir).map(_._1).toArray
        }
        return new CdcStatsScan(table.name(), physAggs, statFiles)
      case None => ()
    }
    // a pushed LIMIT plans only enough non-empty buckets to cover n rows
    // (pushLimit requires complete manifest counts and no filters/panels)
    val limitBuckets: Option[Set[Int]] = pushedLimit.map { n =>
      var acc = 0L
      (0 until d.nBuckets).iterator
        .filter(b => table.bucketRows.getOrElse(b, 0L) > 0)
        .takeWhile { b => val need = acc < n; acc += table.bucketRows(b); need }
        .toSet
    }
    // resolve each surviving bucket's file list now, on the driver; a
    // manifest-listed dir that vanished (vacuum racing the scan) fails
    // the scan instead of serving the bucket as empty
    def planned(b: Int): Boolean =
      prunedBuckets.forall(_.contains(b)) && limitBuckets.forall(_.contains(b))
    val files: Map[Int, Array[(String, Long)]] = table.bucketDirs
      .filter { case (b, _) => planned(b) }
      .map { case (b, dir) => b -> CdcFeedScan.dirFiles(dir).toArray }
    // merge-on-read delta levels, per planned bucket, manifest order
    val deltaFiles: Map[Int, Array[Array[(String, Long)]]] = table.bucketDeltaDirs
      .filter { case (b, _) => planned(b) }
      .map { case (b, dirs) => b -> dirs.map(CdcFeedScan.dirFiles(_).toArray).toArray }
    val buckets = limitBuckets.map(_.toSeq.sorted)
      .orElse(prunedBuckets.map(_.toSeq.sorted))
      .getOrElse(0 until d.nBuckets)
    new CdcScan(table.name(), required, d.keys,
      d.keys.map(k => table.schema()(k).dataType), d.nBuckets, buckets, files, keyPanels,
      table.bucketRows, dataFilters, table.bucketColStats, table.physMap, deltaFiles,
      table.slicedBuckets)
  }
}

/** The pushed-COUNT scan: one partition, one row carrying the
  * manifest's total (once per pushed count expression — COUNT(*) and
  * COUNT(merge key) both count every row, keys being non-null) — ZERO
  * file IO. Spark's final aggregate sums the partials (here: the one
  * row), so the plan stays an ordinary aggregate whose input just
  * happens to be metadata. The schema names each field after ITS
  * expression (`count(*)` / `count(<col>)`) — Spark matches pushed
  * aggregate output positionally, but distinct names keep the
  * multi-expression shape debuggable and the schema well-formed. */
class CdcCountScan(tableName: String, totalRows: Long, aggs: Seq[CdcStatsScan.FooterAgg])
    extends Scan with Batch {
  override def readSchema(): StructType = CdcStatsScan.schemaFor(aggs)
  override def toBatch: Batch = this
  override def description(): String = s"$tableName metadata count=$totalRows (no file IO)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(CdcCountPartition(totalRows, aggs.length))
  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val cp = p.asInstanceOf[CdcCountPartition]
        private var served = false
        override def next(): Boolean = if (served) false else { served = true; true }
        override def get(): InternalRow = InternalRow.fromSeq(Seq.fill(cp.n)(cp.rows))
        override def close(): Unit = ()
      }
  }
}

case class CdcCountPartition(rows: Long, n: Int = 1) extends InputPartition

object CdcScan {
  /** Rewrite a v1 source Filter's attribute references from LOGICAL to
    * PHYSICAL names for the file-side readers. Only called when a column
    * mapping exists; shapes we can't rebuild are DROPPED — these filters
    * are row-group IO advice (Spark re-evaluates every residual), and an
    * untranslated logical name can ALIAS another column's physical
    * spelling after a rename + re-add, which would prune row groups
    * against the wrong column's statistics and silently lose rows. */
  private[cdc] def translateFilter(
      f: org.apache.spark.sql.sources.Filter,
      phys: Map[String, String]): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def p(a: String): String = phys.getOrElse(a, a)
    f match {
      case EqualTo(a, v)            => Some(EqualTo(p(a), v))
      case EqualNullSafe(a, v)      => Some(EqualNullSafe(p(a), v))
      case GreaterThan(a, v)        => Some(GreaterThan(p(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(p(a), v))
      case LessThan(a, v)           => Some(LessThan(p(a), v))
      case LessThanOrEqual(a, v)    => Some(LessThanOrEqual(p(a), v))
      case In(a, vs)                => Some(In(p(a), vs))
      case IsNull(a)                => Some(IsNull(p(a)))
      case IsNotNull(a)             => Some(IsNotNull(p(a)))
      case StringStartsWith(a, v)   => Some(StringStartsWith(p(a), v))
      case StringEndsWith(a, v)     => Some(StringEndsWith(p(a), v))
      case StringContains(a, v)     => Some(StringContains(p(a), v))
      // composites translate EXACTLY or drop WHOLE: weakening an AND to
      // one side would be safe alone, but the same weakened child under a
      // NOT (or an OR) narrows the predicate — unsafe for pruning. A
      // dropped top-level conjunct only costs row-group advice.
      case And(l, r) =>
        for (a <- translateFilter(l, phys); b <- translateFilter(r, phys)) yield And(a, b)
      case Or(l, r) =>
        for (a <- translateFilter(l, phys); b <- translateFilter(r, phys)) yield Or(a, b)
      case Not(c) =>
        translateFilter(c, phys).map(Not)
      case AlwaysTrue()  => Some(AlwaysTrue())
      case AlwaysFalse() => Some(AlwaysFalse())
      case _ => None
    }
  }

  /** Bounded IN panels only: a million-value IN is a join in disguise —
    * the driver must not hash data-sized literal lists. Also caps
    * [[graft.operators.Cdc.lookupKeys]]' driver-collected key panel. */
  private[graft] val MaxInPanel = 1024

  /** The bounded cross product of per-key literal panels, in key order:
    * `None` when some key has no panel or the product would exceed
    * [[MaxInPanel]] (over the cap the panel is a join in disguise). */
  private def panelTuples(
      keys: Seq[String], panels: Map[String, Iterable[Any]]): Option[Seq[Seq[Any]]] =
    if (!keys.forall(panels.contains) ||
      keys.map(k => panels(k).size.toLong).product > MaxInPanel) None
    else Some(keys.foldLeft(Seq(Seq.empty[Any]))((acc, k) =>
      acc.flatMap(t => panels(k).iterator.map(v => t :+ v))))

  /** The buckets the [[panelTuples]] product hashes to through the layout
    * function — a superset of every matching row's bucket, so a bucket
    * outside it holds no match. What static and runtime bucket pruning
    * share. */
  private[cdc] def panelBuckets(
      keys: Seq[String], keyTypes: Seq[DataType], nBuckets: Int,
      panels: Map[String, Iterable[Any]]): Option[Set[Int]] =
    panelTuples(keys, panels).map(_.iterator.map(t =>
      graft.operators.Cdc.bucketOfLiterals(t.zip(keyTypes), nBuckets)).toSet)

  /** Parse V2 predicate conjuncts into the bounded EXTERNAL key tuples
    * they pin: every conjunct must be `=` / bounded `IN` on a merge key
    * (nested ANDs are flattened), every key must end up pinned, and the
    * panel product stays under [[MaxInPanel]]. `None` on any miss — the
    * caller must refuse rather than widen the predicate's meaning
    * (DELETE WHERE k=5 AND bal>10 must never become DELETE WHERE k=5). */
  private[cdc] def pinnedKeyTuples(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
      keys: Seq[String],
      schema: StructType): Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    def keyOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case r: NamedReference if keys.contains(r.fieldNames.mkString(".")) =>
        Some(r.fieldNames.mkString("."))
      case _ => None
    }
    def external(v: Any, k: String): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, schema(k).dataType)
    // each conjunct → (key, values) or None (unpinnable)
    def panelOf(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
        : Option[Seq[(String, Set[Any])]] = {
      val kids = p.children()
      p.name() match {
        case "AND" =>
          val parts = kids.toSeq.map {
            case c: org.apache.spark.sql.connector.expressions.filter.Predicate => panelOf(c)
            case _ => None
          }
          if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
        case "=" if kids.length == 2 && kids(1).isInstanceOf[V2Literal[_]] =>
          keyOf(kids(0)).map(k => Seq(k -> Set(external(kids(1).asInstanceOf[V2Literal[_]].value, k))))
        case "IN" if kids.length >= 2 && kids.length - 1 <= MaxInPanel &&
            kids.tail.forall(_.isInstanceOf[V2Literal[_]]) =>
          keyOf(kids.head).map(k =>
            Seq(k -> kids.tail.map(c => external(c.asInstanceOf[V2Literal[_]].value, k)).toSet))
        case _ => None
      }
    }
    val conjuncts = predicates.toSeq.map(panelOf)
    if (conjuncts.exists(_.isEmpty)) return None
    // NULL literals drop out: SQL = / IN never match NULL, so they pin
    // nothing (an empty panel means the predicate matches no row at all)
    val byKey = conjuncts.flatMap(_.get)
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ intersect _).filter(_ != null)).toMap
    panelTuples(keys, byKey)
  }
}

class CdcScan(
    tableName: String,
    requiredSchema: StructType,
    keys: Seq[String],
    keyTypes: Seq[DataType],
    nBuckets: Int,
    buckets: Seq[Int],
    filesByBucket: Map[Int, Array[(String, Long)]],
    staticPanels: Map[String, Seq[Any]] = Map.empty,
    rowsByBucket: Map[Int, Long] = Map.empty,
    dataFilters: Array[Filter] = Array.empty,
    colStatsByBucket: Map[Int, Map[String, graft.operators.Cdc.ColStatRec]] = Map.empty,
    physMap: Map[String, String] = Map.empty,
    deltaFilesByBucket: Map[Int, Array[Array[(String, Long)]]] = Map.empty,
    /** Lazily-split children ([[graft.operators.Cdc.splitBuckets]]):
      * their file lists are the PARENT's files, and the reader must
      * slice rows to the partition's own bucket id with the layout
      * hash — one more reason (besides deltas) a partition takes the
      * row-path fold reader. */
    slicedBuckets: Set[Int] = Set.empty)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"$tableName buckets=${buckets.length}/$nBuckets cols=${requiredSchema.fieldNames.mkString(",")}"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.bucket(nBuckets, keys: _*)), buckets.length)

  // the session's Hadoop conf, captured once for this scan's readers
  private lazy val confMap: Map[String, String] = SessionHadoopConf.capture()

  // RUNTIME bucket pruning (the V2 DPP contract): when this scan joins a
  // filterable side on merge keys, Spark executes that side first,
  // collects its distinct key values, and hands them here as =/IN
  // predicates PER KEY — hashing them through the layout function drops
  // whole buckets BEFORE any store file is opened. Buckets prune when the
  // runtime panels pin EVERY key (single-key stores: one panel; composite
  // stores: the bounded cross-product of the per-key panels — the same
  // superset construction as the static path, so a bucket is dropped only
  // if NO combination of per-key values hashes into it). Keys with a
  // panel but not full coverage still contribute per-key ROW-GROUP
  // filtering through readerPanels.
  @volatile private var runtimeBuckets: Option[Set[Int]] = None
  @volatile private var runtimePanels: Map[String, Set[Any]] = Map.empty
  private[cdc] def runtimePrunedBuckets: Option[Set[Int]] = runtimeBuckets

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keys.filter(requiredSchema.fieldNames.contains).map(Expressions.column).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    def keyOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case r: NamedReference if keys.contains(r.fieldNames.mkString(".")) =>
        Some(r.fieldNames.mkString("."))
      case _ => None
    }
    val panels: Seq[(String, Set[Any])] = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.length >= 2 && kids.length - 1 <= CdcScan.MaxInPanel &&
            kids.tail.forall(_.isInstanceOf[V2Literal[_]]) =>
          keyOf(kids.head).map(k =>
            k -> kids.tail.map(_.asInstanceOf[V2Literal[_]].value.asInstanceOf[Any]).toSet)
        case "=" if kids.length == 2 && kids(1).isInstanceOf[V2Literal[_]] =>
          keyOf(kids(0)).map(k =>
            k -> Set(kids(1).asInstanceOf[V2Literal[_]].value.asInstanceOf[Any]))
        case _ => None
      }
    }
    if (panels.nonEmpty) {
      // several panels on one key intersect (each is a superset of the
      // key's true value set, so the intersection still is)
      val byKey = panels.groupBy(_._1).view
        .mapValues(_.map(_._2).reduce(_ intersect _).filter(_ != null)).toMap
      runtimePanels = byKey
      // the bucket superset, exactly the static pushFilters construction;
      // over the cap, keep row-group panels and skip bucket pruning
      val buckets = CdcScan.panelBuckets(keys, keyTypes, nBuckets, byKey)
      if (buckets.isDefined) runtimeBuckets = buckets
    }
  }

  /** Per-key panels the READER pushes into parquet (AND of bounded INs):
    * row groups whose key statistics exclude every panel value never
    * decode — the sub-bucket half of point reads over the store's
    * key-sorted files. Values normalize to external scala types here so
    * one reader-side encoding serves both the v1 pushdown literals and
    * the runtime (internal) panel. */
  private def readerPanels: Array[(String, Array[Any])] = {
    def norm(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other         => other
    }
    val runtime = runtimePanels.view.mapValues(_.toSeq).toMap
    (staticPanels.keySet ++ runtime.keySet).iterator.map { k =>
      val s = staticPanels.get(k).map(_.map(norm).toSet)
      val r = runtime.get(k).map(_.map(norm).toSet)
      val merged: Set[Any] = (s, r) match {
        case (Some(a), Some(b)) => a intersect b
        case (a, b)             => a.orElse(b).get
      }
      k -> merged.toArray
    }.filter { case (k, vs) =>
      vs.nonEmpty && (requiredSchema.fields.find(_.name == k).map(_.dataType) match {
        case Some(LongType) | Some(IntegerType) | Some(StringType) => true
        case Some(_) => false
        case None    => false // key projected out: stats pruning forfeited
      })
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // readers touch FILES: key-panel filters AND pushed source filters
    // are spelled in the files' PHYSICAL names (renames never rewrote
    // them) — an untranslated logical name could alias another column's
    // physical spelling and prune against the wrong statistics
    val panels = readerPanels.map { case (k, vs) => physMap.getOrElse(k, k) -> vs }
    val physFilters =
      if (physMap.isEmpty) dataFilters
      else dataFilters.flatMap(CdcScan.translateFilter(_, physMap))
    val physKeys = keys.map(k => physMap.getOrElse(k, k)).toArray
    buckets
      .filter(b => runtimeBuckets.forall(_.contains(b)))
      .map { b =>
        // every delta level's files, oldest level first
        val deltas = deltaFilesByBucket.getOrElse(b, Array.empty).flatten
        val sliced = slicedBuckets.contains(b)
        val rowPath = deltas.nonEmpty || sliced
        CdcBucketPartition(b, filesByBucket.getOrElse(b, Array.empty), panels,
          // a delta'd partition FOLDS: row-group/record pruning by
          // arbitrary payload predicates could drop a key's newest delta
          // row while keeping its base row — resurrecting the stale
          // version — so pushed data filters stay OFF the fold path
          // (key-equality panels remain safe: they drop a key's rows on
          // every level together). Sliced partitions drop them too.
          if (rowPath) Array.empty[Filter] else physFilters,
          deltaFiles = deltas,
          morKeys = if (rowPath) physKeys else Array.empty,
          morKeyTypes = if (rowPath) keyTypes.toArray else Array.empty,
          sliceN = if (sliced) nBuckets else 0)
      }.toArray[InputPartition]
  }

  // Pruning observability (Spark UI / SQLAppStatusStore): how many
  // buckets each pruning tier dropped, and how many files survive —
  // read off the executed plan, not inferred from task counts.
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] = CdcMetrics.scanMetrics

  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val planned = buckets.filter(b => runtimeBuckets.forall(_.contains(b)))
    Array(
      CdcMetrics.Value("plannedBuckets", planned.length.toLong),
      CdcMetrics.Value("staticPrunedBuckets", (nBuckets - buckets.length).toLong),
      CdcMetrics.Value("runtimePrunedBuckets", (buckets.length - planned.length).toLong),
      CdcMetrics.Value("plannedFiles", planned.iterator.map(b =>
        filesByBucket.getOrElse(b, Array.empty).length.toLong +
          deltaFilesByBucket.getOrElse(b, Array.empty).iterator.map(_.length.toLong).sum).sum))
  }

  /** Real sizes for the planner: the PRUNED byte count, so a
    * dimension-sized (or heavily pruned) store side can broadcast while
    * store-scale sides keep the exchange-free SPJ shape. Row counts come
    * from the manifest (recorded per bucket at commit) and sum over the
    * PLANNED buckets only — reported only when every planned non-empty
    * bucket has one (a partial sum would misstate the table). Keys are
    * unique per row, so a single-key store also reports key NDV =
    * numRows (composite stores skip per-column NDV: a component column's
    * own NDV is ≤ numRows and unknown).
    *
    * Per-column MIN/MAX/NULLCOUNT fold from the manifest-recorded footer
    * statistics over the same planned-bucket set (min of mins, max of
    * maxes, sum of nulls — reported only when every planned non-empty
    * bucket carries the column, else the estimate would silently
    * misstate the pruned table). This is what lets the CBO estimate
    * FILTER SELECTIVITY on store columns — a selective range predicate
    * shrinks the estimated rows enough to flip a join's build side,
    * exactly like ANALYZE's column stats on warehouse tables. */
  override def estimateStatistics(): Statistics = {
    // distinct by PATH: lazily-split sibling children share their parent's
    // files — counting a shared file once per serving child would
    // overstate sizeInBytes by up to the split factor and flip broadcast
    // decisions until the children rewrite
    val bytes = filesByBucket.valuesIterator.flatten.toSeq.distinctBy(_._1).map(_._2).sum +
      deltaFilesByBucket.valuesIterator.flatten.flatten.map(_._2).sum
    // a bucket counts as non-empty when it has base files OR pending
    // deltas (a delta'd bucket's resolved count is unknown — its absence
    // from rowsByBucket must make numRows honest, never a phantom 0)
    val nonEmpty = buckets.filter(b => filesByBucket.getOrElse(b, Array.empty).nonEmpty ||
      deltaFilesByBucket.getOrElse(b, Array.empty).exists(_.nonEmpty))
    val known = nonEmpty.forall(rowsByBucket.contains)
    val rows =
      if (known) OptionalLong.of(buckets.iterator.map(rowsByBucket.getOrElse(_, 0L)).sum)
      else OptionalLong.empty()
    // internal-value parse of the manifest's stringified footer min/max
    def parse(s: String, dt: DataType): Object = dt match {
      case LongType               => java.lang.Long.valueOf(s)
      case IntegerType | DateType => java.lang.Integer.valueOf(s)
      case DoubleType             => java.lang.Double.valueOf(s)
      case FloatType              => java.lang.Float.valueOf(s)
      case BooleanType            => java.lang.Boolean.valueOf(s)
      case t => throw new IllegalStateException(s"unexpected CBO min/max type $t")
    }
    def ordered(dt: DataType): Ordering[Object] = {
      val o: Ordering[_] = dt match {
        case LongType               => Ordering.Long
        case IntegerType | DateType => Ordering.Int
        case DoubleType             => Ordering.Double.TotalOrdering
        case FloatType              => Ordering.Float.TotalOrdering
        case BooleanType            => Ordering.Boolean
        case t => throw new IllegalStateException(s"unexpected CBO min/max type $t")
      }
      o.asInstanceOf[Ordering[Object]]
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val keyNdv = rows.isPresent && keys.length == 1
        for (f <- requiredSchema.fields) {
          // manifest colstats are keyed by PHYSICAL name (stable across
          // renames, so carried stats survive them)
          val perBucket = nonEmpty.map(b =>
            colStatsByBucket.getOrElse(b, Map.empty).get(physMap.getOrElse(f.name, f.name)))
          val complete = perBucket.nonEmpty && perBucket.forall(_.isDefined)
          val recs = perBucket.flatten
          val nulls: OptionalLong =
            if (complete) OptionalLong.of(recs.iterator.map(_.nulls).sum)
            else if (keyNdv && f.name == keys.head) OptionalLong.of(0L)
            else OptionalLong.empty()
          // min/max only when every bucket carries a range OR is all-NULL
          // for the column (nulls == that bucket's rows would need rows
          // per bucket; absence of min with nulls recorded means all-NULL)
          val ranged = complete && recs.exists(_.min.isDefined) &&
            recs.forall(r => r.min.isDefined == r.max.isDefined)
          val (mn, mx): (java.util.Optional[Object], java.util.Optional[Object]) =
            if (!ranged) (java.util.Optional.empty(), java.util.Optional.empty())
            else {
              implicit val o: Ordering[Object] = ordered(f.dataType)
              val mins = recs.flatMap(_.min).map(parse(_, f.dataType))
              val maxs = recs.flatMap(_.max).map(parse(_, f.dataType))
              (java.util.Optional.of(mins.min), java.util.Optional.of(maxs.max))
            }
          // key NDV = numRows (unique by contract, exact); other columns
          // sum the per-bucket HLL estimates — an upper bound (values
          // repeat across buckets), clamped by non-null rows when known
          val ndv: OptionalLong =
            if (keyNdv && f.name == keys.head) rows
            else if (complete && recs.forall(_.ndv.isDefined)) {
              val sum = recs.iterator.map(_.ndv.get).sum
              // clamp by non-null rows when known; an all-NULL column
              // honestly reports NDV 0, never a phantom 1
              val clamped =
                if (rows.isPresent && nulls.isPresent)
                  math.min(sum, math.max(0L, rows.getAsLong - nulls.getAsLong))
                else sum
              OptionalLong.of(clamped)
            } else OptionalLong.empty()
          if (nulls.isPresent || mn.isPresent || ndv.isPresent)
            m.put(Expressions.column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong = ndv
                override def nullCount(): OptionalLong = nulls
                override def min(): java.util.Optional[Object] = mn
                override def max(): java.util.Optional[Object] = mx
              })
        }
        m
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the reader decodes files by NAME: hand it the physical spelling of
    // every payload column, SAME positions — Spark consumes the batch
    // positionally against readSchema(), so the logical names stay the
    // plan's and the physical names stay the files'
    val fileSchema = StructType(requiredSchema.fields.map(f =>
      f.copy(name = physMap.getOrElse(f.name, f.name))))
    // any pending delta level (fold) or lazily-split child (slice)
    // anywhere takes the WHOLE scan to the row path; compaction restores
    // the vectorized serve shape
    new CdcReaderFactory(fileSchema, confMap,
      columnar = deltaFilesByBucket.isEmpty && slicedBuckets.isEmpty)
  }
}

case class CdcBucketPartition(
    bucket: Int,
    /** (path, on-disk size) per base file. */
    files: Array[(String, Long)],
    keyFilters: Array[(String, Array[Any])] = Array.empty,
    sourceFilters: Array[Filter] = Array.empty,
    /** Merge-on-read delta files, levels in manifest (commit) order —
      * when non-empty the reader folds base + deltas last-writer-wins. */
    deltaFiles: Array[(String, Long)] = Array.empty,
    /** The merge keys' PHYSICAL column names + types (set when
      * deltaFiles is non-empty or sliceN > 0): the fold's row identity
      * and the slice's hash input, read from the files even when the
      * query projected the keys out. */
    morKeys: Array[String] = Array.empty,
    morKeyTypes: Array[DataType] = Array.empty,
    /** Lazy bucket-split slice: when > 0, `files` are the PARENT's files
      * and only rows with `pmod(xxhash64(keys), sliceN) == bucket`
      * belong to this partition. */
    sliceN: Int = 0)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Executor-side readers for every CDC partition shape; every one
  * decodes through [[CdcColumnarReader]]. `columnar` is the scan's SHAPE,
  * never a setting: Spark refuses mixed row/columnar partitions in one
  * scan, so a store scan with any pending delta level or lazily-split
  * bucket reads ROWS through the fold reader (clean buckets included —
  * they fold over no deltas and no slice); every other scan (clean
  * store, feed, bootstrap snapshot) serves the batches as they decode,
  * feeding whole-stage codegen exactly like Spark's built-in parquet
  * source. `confMap` is the session's Hadoop conf, captured once per
  * scan on the driver. */
class CdcReaderFactory(
    requiredSchema: StructType,
    confMap: Map[String, String],
    columnar: Boolean = true)
    extends PartitionReaderFactory {
  // a compacted segment's files carry _commit_timestamp as DATA
  // (materialized at compaction); single-version files serve it as the
  // commit marker's per-partition constant
  private def feedConstants(f: CdcFeedPartition): Map[String, Any] =
    if (f.tsInData) Map.empty else Map("_commit_timestamp" -> f.commitTsMicros)

  // a bootstrap-snapshot slice is ordinary store files plus the full CDF
  // column set as constants: every row an `insert` at the snapshot version
  private def snapshotConstants(s: CdcSnapshotPartition): Map[String, Any] = Map(
    "_change_type" -> UTF8String.fromString("insert"),
    "_commit_version" -> s.commitVersion,
    "_commit_timestamp" -> s.commitTsMicros)

  // the `_bucket` metadata column is the partition's own bucket id
  private def bucketConstants(b: CdcBucketPartition): Map[String, Any] =
    if (requiredSchema.fieldNames.contains("_bucket")) Map("_bucket" -> b.bucket)
    else Map.empty

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case b: CdcBucketPartition =>
        new CdcMorPartitionReader(b.files, b.deltaFiles, requiredSchema, confMap,
          b.morKeys, b.morKeyTypes, b.keyFilters, b.sourceFilters, bucketConstants(b),
          slice = if (b.sliceN > 0) Some((b.sliceN, b.bucket)) else None)
      case p => throw new IllegalArgumentException(s"not a row-path CDC partition: $p")
    }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case b: CdcBucketPartition => new CdcColumnarReader(b.files, requiredSchema, confMap,
        b.keyFilters, constants = bucketConstants(b), sourceFilters = b.sourceFilters)
      case f: CdcFeedPartition   => new CdcColumnarReader(f.files, requiredSchema, confMap,
        constants = feedConstants(f))
      case s: CdcSnapshotPartition => new CdcColumnarReader(s.files, requiredSchema, confMap,
        constants = snapshotConstants(s))
      case p => throw new IllegalArgumentException(s"not a CDC partition: $p")
    }
}

/** MERGE-ON-READ fold of ONE bucket over the rows of
  * [[CdcColumnarReader]] batches: apply the bucket's ordered delta files
  * (per-key changelog survivors with a `_cdc_op` tombstone marker,
  * written by [[graft.operators.Cdc]] delta commits) over its base files,
  * last-writer-wins per merge key, streaming.
  *
  * Shape: (1) drain the delta files OLDEST → NEWEST into a key-indexed
  * verdict map — later puts overwrite earlier ones, so the map ends at
  * each key's final verdict; batch rows are reused, so every retained
  * row is copied out; (2) stream the base batches row by row, emitting
  * every row whose key has no verdict (verdict'd keys are superseded —
  * updated or deleted); (3) emit the non-tombstone verdicts. Memory is
  * O(delta rows in this bucket) — exactly the merge-on-read premise
  * (deltas are DML-sized, the base is bucket-sized and streams through).
  * Compaction ([[graft.operators.Cdc.compactStore]]) bounds delta depth.
  *
  * The keys are read from the files even when the query projected them
  * out (`innerSchema` appends them); emitted rows are trimmed back to
  * the scan's declared schema. Key panels prune row groups on both
  * levels — key-equality pruning drops a key's rows on every level
  * together, so the fold stays consistent; arbitrary payload filters
  * could drop a key's newest delta row while keeping its base row, so
  * the planner hands a folding partition none (`sourceFilters` reach the
  * base only, and only on partitions with no deltas and no slice). */
class CdcMorPartitionReader(
    baseFiles: Array[(String, Long)],
    /** Every delta level's files, oldest level first. */
    deltaFiles: Array[(String, Long)],
    requiredSchema: StructType,
    confMap: Map[String, String],
    keyNames: Array[String],
    keyTypes: Array[DataType],
    keyFilters: Array[(String, Array[Any])] = Array.empty,
    sourceFilters: Array[Filter] = Array.empty,
    constants: Map[String, Any] = Map.empty,
    /** Lazy bucket-split slice `(nBuckets, bucket)`: base files are the
      * PARENT's (shared with sibling children) — emit only rows whose
      * layout hash lands in `bucket`. Delta rows are native to the child
      * (written post-split at its coordinate) and need no slicing. With
      * no delta files this degenerates to a sliced base stream — the
      * lazily-split clean-bucket reader. */
    slice: Option[(Int, Int)] = None)
    extends PartitionReader[InternalRow] {

  private val extraKeys: Array[StructField] =
    keyNames.zip(keyTypes).collect {
      case (n, t) if !requiredSchema.fieldNames.contains(n) => StructField(n, t, nullable = true)
    }
  private val innerSchema = StructType(requiredSchema.fields ++ extraKeys)
  private val deltaSchema = StructType(
    innerSchema.fields :+ StructField(graft.operators.Cdc.DeltaOpCol, StringType, nullable = true))
  private val keyIdx: Array[Int] = keyNames.map(innerSchema.fieldIndex)
  private val keyDts: Array[DataType] = keyIdx.map(innerSchema.fields(_).dataType)
  private val opIdx = deltaSchema.length - 1

  private def keyOf(row: InternalRow): List[Any] =
    keyIdx.indices.map(i =>
      if (row.isNullAt(keyIdx(i))) null else row.get(keyIdx(i), keyDts(i))).toList

  // the store's layout hash over THIS row's keys — the same Catalyst
  // XxHash64 bucketExpr compiles to, evaluated interpreted per row
  @transient private lazy val sliceHash: XxHash64 = XxHash64(
    keyIdx.zip(keyDts).map { case (i, t) =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(i, t, nullable = true)
        : org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq, 42L)

  private def inSlice(row: InternalRow): Boolean = slice.forall { case (n, b) =>
    val m = sliceHash.eval(row).asInstanceOf[Long] % n
    (if (m < 0) m + n else m).toInt == b
  }

  // final verdict per delta'd key: true = tombstoned, false = row below wins
  private val verdicts = new java.util.LinkedHashMap[List[Any], (Boolean, InternalRow)]()
  private val (deltaFilesOpened, deltaBytesOpened) = {
    // constants (e.g. the `_bucket` metadata column) fill absent fields
    // inside the reader, same as for base files
    val r = new CdcColumnarReader(deltaFiles, deltaSchema, confMap, keyFilters, constants)
    try {
      while (r.next()) {
        val rows = r.get().rowIterator()
        while (rows.hasNext) {
          val row = rows.next().copy()
          val del = !row.isNullAt(opIdx) && row.getUTF8String(opIdx).toString == "D"
          verdicts.put(keyOf(row), (del, row))
        }
      }
      (r.filesOpened, r.bytesOpened)
    } finally r.close()
  }

  private val base = new CdcColumnarReader(baseFiles, innerSchema, confMap, keyFilters,
    constants, sourceFilters)
  private var batch: ColumnarBatch = _ // current base batch, innerSchema-wide
  private var out: ColumnarBatch = _   // the same vectors, requiredSchema-wide
  private var rowId = 0
  private var baseDone = false
  private var verdictIt: java.util.Iterator[(Boolean, InternalRow)] = _
  private var current: InternalRow = _

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    CdcMetrics.readValues(deltaFilesOpened + base.filesOpened,
      deltaBytesOpened + base.bytesOpened)

  // a verdict row carries the op marker (and any appended keys) past the
  // scan's declared schema
  private def trim(row: InternalRow): InternalRow = {
    val out = new Array[Any](requiredSchema.length)
    var i = 0
    while (i < out.length) { out(i) = row.get(i, requiredSchema.fields(i).dataType); i += 1 }
    InternalRow.fromSeq(out.toIndexedSeq)
  }

  override def next(): Boolean = {
    while (!baseDone) {
      if (batch != null && rowId < batch.numRows()) {
        val i = rowId
        rowId += 1
        val row = batch.getRow(i)
        if (inSlice(row) && (verdicts.isEmpty || !verdicts.containsKey(keyOf(row)))) {
          current = out.getRow(i); return true
        }
      } else if (base.next()) {
        batch = base.get()
        out =
          if (extraKeys.isEmpty) batch
          else new ColumnarBatch(Array.tabulate(requiredSchema.length)(batch.column), batch.numRows())
        rowId = 0
      } else {
        baseDone = true
        base.close()
        verdictIt = verdicts.values().iterator()
      }
    }
    while (verdictIt.hasNext) {
      val (del, row) = verdictIt.next()
      if (!del) { current = trim(row); return true }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = base.close()
}
