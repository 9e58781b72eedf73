package graft.sources.cdc

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Cdc

/** A DSv2 `TableCatalog` + `FunctionCatalog` serving partitioned CDC
  * stores ([[graft.operators.Cdc]]) as catalog tables that REPORT their
  * bucket layout to Catalyst — the storage-partitioned-join (SPJ)
  * contract Iceberg bucket-partitioned tables speak.
  *
  * Why this exists (the 100 TB serve-side story): the store's maintenance
  * side already writes bucket-scoped files (hash(merge key) mod n). A
  * consumer joining two stores keyed the same way — account state ⋈
  * activity rollup, snapshot ⋈ snapshot-at-v for drift — should NOT
  * shuffle either side: the layout already co-locates matching keys.
  * Reporting `KeyGroupedPartitioning(bucket(n, keys), n)` from the scan
  * (plus a `FunctionCatalog` resolving the bucket transform, plus one
  * `HasPartitionKey` input partition per bucket) lets Spark plan the join
  * with ZERO Exchange under `spark.sql.sources.v2.bucketing.enabled` —
  * the V2 mirror of the warehouse's `bucketBy` twins, for data that lives
  * in the engine's own store format rather than the session catalog.
  *
  * Registration is programmatic (the stores are session artifacts, not
  * metastore rows): `CdcCatalog.register(name, storePath, keys, nBuckets)`
  * then `spark.table("graft.name")` after configuring
  * `spark.sql.catalog.graft = graft.sources.cdc.CdcCatalog`. A `version`
  * pin serves a historical snapshot (time travel); default is the newest
  * committed version, re-resolved every time the table is loaded, so a
  * long-lived session always serves the latest commit.
  *
  * Each scan partition is ONE bucket (every bucket 0..n-1 emits a
  * partition — absent manifest entries read zero rows — so both sides of
  * a join always present identical partition-key sets and Spark never
  * needs to fill gaps). Supported payload types are the store fixtures'
  * primitive set (long/int/double/float/string/boolean/date); anything
  * else is refused at load time with a clear message rather than
  * mis-decoded at read time.
  */
object CdcCatalog {

  /** One registered store: where it lives, how it buckets, which version
    * to serve (None = newest committed at load time). */
  case class StoreDef(
      storePath: String,
      keys: Seq[String],
      nBuckets: Int,
      version: Option[Long] = None,
      /** Per-store opt-in for STRING min/max footer-statistics pushdown:
        * set true only when every writer of this store provably keeps
        * binary statistics exact (no parquet.statistics.truncate.length)
        * — a per-store decision, so it lives on the registration. */
      trustStringStats: Boolean = false,
      /** Per-store opt-in for MERGE-ON-READ writes: SQL
        * MERGE/UPDATE/DELETE/INSERT — and streaming `writeStream.toTable`
        * epochs — commit per-bucket DELTA files (O(delta) write IO)
        * instead of rewriting touched buckets in full; the scan folds
        * base + deltas at read time, depth-bounded inline auto-compaction
        * amortizes rewrites into the write stream, and
        * [[graft.operators.Cdc.compactStore]] folds the rest back on a
        * cadence. Leave false for read-latency-critical stores that
        * prefer paying the rewrite at write time. */
      morDml: Boolean = false)

  /** One registered feed table: the store's materialized CDF directory
    * ([[graft.operators.Cdc.maintainPartitionedSnapshot]]'s `feedPath`)
    * plus the store it feeds from (schema authority — additive evolution
    * makes the store's newest recorded schema the union every feed
    * version clips into). */
  case class FeedDef(feedPath: String, storePath: String,
      /** See [[StoreDef.trustStringStats]]. */
      trustStringStats: Boolean = false)

  // JVM-wide registry (the catalog instance is constructed reflectively
  // by Spark per session; definitions are process state like the
  // session-artifact caches in CoreQueries/LlmQueries)
  private val registry = TrieMap.empty[String, StoreDef]
  private val feedRegistry = TrieMap.empty[String, FeedDef]

  def register(
      name: String,
      storePath: String,
      keys: Seq[String],
      nBuckets: Int,
      version: Option[Long] = None,
      trustStringStats: Boolean = false,
      morDml: Boolean = false): Unit = {
    require(keys.nonEmpty, "a CDC store table needs at least one merge key")
    require(nBuckets > 0, "nBuckets must be positive")
    // symmetric to registerFeed's guard: loadTable resolves stores FIRST,
    // so a store registered under a feed table's name would silently
    // shadow the feed for every reader
    require(!feedRegistry.contains(name), s"$name is already a feed table")
    registry.put(name, StoreDef(storePath, keys, nBuckets, version, trustStringStats, morDml))
    // the maintenance API's dropColumn guard: a bare Cdc.dropColumn call
    // must refuse to drop a column a live registration names as a key
    Cdc.registerMergeKeys(storePath, keys)
  }

  /** Expose a store's materialized change feed as `<catalog>.<name>` —
    * batch-readable CDF history plus `readStream.table` tailing
    * ([[CdcFeedTable]]). */
  def registerFeed(name: String, storePath: String, feedPath: String,
      trustStringStats: Boolean = false): Unit = {
    require(!registry.contains(name), s"$name is already a store table")
    feedRegistry.put(name, FeedDef(feedPath, storePath, trustStringStats))
  }

  def unregister(name: String): Unit = {
    registry.remove(name).foreach { d =>
      // the key guard lives per PATH: drop it only when no other
      // registration still serves the same store
      if (!registry.values.exists(_.storePath == d.storePath))
        Cdc.unregisterMergeKeys(d.storePath)
    }
    feedRegistry.remove(name)
  }

  private[cdc] def lookup(name: String): Option[StoreDef] = registry.get(name)
  private[cdc] def lookupFeed(name: String): Option[FeedDef] = feedRegistry.get(name)

  /** The current LIVE (unpinned) registration serving `storePath`, if
    * any — the streaming sink re-resolves through this each epoch so a
    * mid-stream layout evolution (split) reaches running queries.
    * Prefers a registration whose keys match the store's per-path key
    * registry (a sibling with stale keys must not win), then — among
    * those — one consistent with the caller's ORIGINAL def: with several
    * live registrations on one path, an arbitrary sibling could flip the
    * stream's morDml flag mid-run, silently switching an epoch between
    * CoW and MoR commit modes. Final fallback is name-ordered, so the
    * choice is at least deterministic, never TrieMap iteration order. */
  private[cdc] def liveDefForPath(
      storePath: String, original: Option[StoreDef] = None): Option[StoreDef] = {
    val live = registry.toSeq.sortBy(_._1).map(_._2)
      .filter(r => r.storePath == storePath && r.version.isEmpty)
    val recorded = Cdc.mergeKeysFor(storePath)
    val keyOk = live.filter(r => recorded.forall(_ == r.keys))
    val pool = if (keyOk.nonEmpty) keyOk else live
    original.flatMap(o => pool.find(_.morDml == o.morDml)).orElse(pool.headOption)
  }

  /** The feed a store FEEDS, if one is registered: writers that commit
    * new store versions (the streaming toTable sink) materialize each
    * version's CDF there, so downstream `readStream.table` consumers keep
    * tailing — the multi-hop (medallion) contract. */
  private[cdc] def feedPathForStore(storePath: String): Option[String] =
    feedRegistry.values.collectFirst { case d if d.storePath == storePath => d.feedPath }

  /** Materialize version `v`'s CDF at the store's registered feed (no-op
    * without one) — called after EVERY commit that mints a store version
    * (streaming epoch, INSERT INTO, DELETE, row-level DML), so the feed's
    * consecutive version line never gains a hole: a gap would make the
    * streaming tail's retention check throw a misleading "retention
    * exceeded" at consumers needing that version, and batch feed reads
    * would silently omit the commit's changes. Manifest-diff pruned
    * (bounded by what `v` touched); overwrite keeps it replay-idempotent. */
  private[cdc] def materializeFeed(
      spark: SparkSession, storePath: String, keys: Seq[String], v: Long): Unit =
    feedPathForStore(storePath).foreach { feedPath =>
      Cdc.changesBetweenCdf(spark, storePath, v - 1, v, keys)
        .write.mode("overwrite").parquet(s"$feedPath/v=$v")
    }
  private[cdc] def names: Seq[String] =
    (registry.keys ++ feedRegistry.keys).toSeq.sorted

  /** A merge-key rename committed on `storePath` propagates to EVERY
    * live (unpinned) registration serving that path — the registry is
    * keyed by table name but key validity is per (path, served
    * version), and a sibling registration left on the old name would
    * fail its next loadTable's keys-vs-recorded-meta check with an
    * error far from the ALTER that caused it. Version-pinned
    * registrations keep their keys: they validate against their pinned
    * era's recorded metadata, which the rename never rewrites. */
  private[cdc] def renameKeyForPath(storePath: String, from: String, to: String): Unit =
    registry.foreach { case (n, def_) =>
      if (def_.storePath == storePath && def_.version.isEmpty && def_.keys.contains(from))
        registry.put(n, def_.copy(keys = def_.keys.map(k => if (k == from) to else k)))
    }

  /** Merge-on-read COMPACTION for a registered table — the catalog-aware
    * front door to [[graft.operators.Cdc.compactStore]]: layout
    * arguments come from the registration (no caller-supplied keys to
    * get wrong), and when the store feeds a registered CHANGE FEED the
    * compaction version is materialized there too (an EMPTY CDF —
    * compaction changes no logical row — but the feed's version line
    * must stay contiguous or the streaming tail's gap detection throws a
    * misleading retention error at consumers). Returns the committed
    * version, or None when nothing needed compacting. */
  def compact(name: String, minDeltas: Int = 1,
      /** See [[graft.operators.Cdc.compactStore]]: Z-order the rewritten
        * buckets' files by these 2-3 columns for stats-pushdown locality. */
      zorderCols: Seq[String] = Nil): Option[Long] = {
    val d = registry.getOrElse(name,
      throw new NoSuchTableException(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, name)))
    val spark = SparkSession.active
    val committed =
      Cdc.compactStore(spark, d.storePath, d.keys, d.nBuckets, minDeltas, zorderCols)
    committed.foreach(v => materializeFeed(spark, d.storePath, d.keys, v))
    committed
  }

  /** BUCKET-COUNT EVOLUTION for a registered table — the catalog-aware
    * front door to [[graft.operators.Cdc.splitBuckets]]: one metadata-only
    * commit grows the layout `nBuckets → nBuckets × factor` (children
    * serve their parent's files through a read-time slice until their
    * next rewrite), every LIVE registration sharing the store path
    * switches to the new bucket count in lockstep (a stale registration
    * would refuse at its next load — the layout guard), and a registered
    * change feed gets the split version materialized (empty — a split
    * changes no logical row) so its version line stays contiguous.
    * Version-pinned registrations keep their era's layout, exactly like
    * key renames. Returns the committed version. */
  def split(name: String, factor: Int = 2): Long = {
    val d = registry.getOrElse(name,
      throw new NoSuchTableException(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, name)))
    require(d.version.isEmpty, s"$name is version-pinned (time travel) — split the live table")
    val spark = SparkSession.active
    val v = Cdc.splitBuckets(spark, d.storePath, factor)
    // the committed layout is the authority: assign the store's RECORDED
    // post-split count rather than multiplying each sibling's own
    // (possibly already-stale) nBuckets — the update heals a drifted
    // registration instead of compounding its error
    val newN = Cdc.storedMeta(spark, d.storePath, v).nBuckets
    registry.foreach { case (n, def_) =>
      if (def_.storePath == d.storePath && def_.version.isEmpty)
        registry.put(n, def_.copy(nBuckets = newN))
    }
    materializeFeed(spark, d.storePath, d.keys, v)
    v
  }

  /** Bounded retry for catalog DML whose statements are SNAPSHOT-
    * INDEPENDENT (key-tuple deletes, full-row upsert inserts): an
    * OVERLAPPING-bucket CAS loser re-resolves `next` and re-applies the
    * same statement — safe because its meaning doesn't depend on the
    * rows it raced (staged row-level verdicts are NOT retried here; they
    * must re-scan). Disjoint losers never reach this: commitCas rebases
    * them internally. */
  private[cdc] def retryConflicts[T](what: String, attempts: Int = 3)(body: => T): T = {
    var left = attempts
    while (true) {
      left -= 1
      try return body
      catch {
        case e: graft.operators.ConcurrentCdcWriteException if left > 0 =>
          // loser cleanup already ran inside commitCas; just re-apply
          java.util.logging.Logger.getLogger(getClass.getName)
            .info(s"$what lost a commit race (${e.getMessage.take(120)}); retrying " +
              s"($left attempts left)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[cdc] val SupportedTypes: Set[DataType] = Set(
    LongType, IntegerType, DoubleType, FloatType, StringType, BooleanType, DateType)

  /** Payload-type admission: the fixed primitive set plus any DECIMAL
    * (parameterized, so it can't live in the Set). Decimal columns serve
    * through every read path — Spark's vectorized reader decodes all
    * three parquet physical classes (INT32/INT64/FLBA) — but are excluded from
    * min/max stats machinery by the same Set-membership gates
    * (absence = unknown, never wrong). */
  private[cdc] def supportedType(dt: DataType): Boolean =
    SupportedTypes.contains(dt) || dt.isInstanceOf[DecimalType]

  /** Static schemas of the `$history`/`$files` metadata tables — pinned
    * here so loading them never executes the metadata computation. Must
    * match [[graft.operators.Cdc.describeHistory]]/`describeFiles`
    * exactly (CdcCatalogSpec asserts the equality). */
  private[cdc] val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("commit_ts_millis", LongType, nullable = false),
    StructField("buckets", IntegerType, nullable = false),
    StructField("touched_buckets", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("delta_buckets", IntegerType, nullable = false)))
  private[cdc] val FilesSchema: StructType = StructType(Seq(
    StructField("_bucket", IntegerType, nullable = false),
    StructField("_writer", LongType, nullable = false),
    StructField("path", StringType, nullable = true),
    StructField("bytes", LongType, nullable = false),
    StructField("bucket_rows", LongType, nullable = true),
    StructField("file_rows", LongType, nullable = false),
    StructField("is_delta", BooleanType, nullable = false),
    StructField("base_mod", IntegerType, nullable = true)))
  private[cdc] val PartitionsSchema: StructType = StructType(Seq(
    StructField("_bucket", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("base_writer", LongType, nullable = true),
    StructField("delta_depth", IntegerType, nullable = false),
    StructField("base_mod", IntegerType, nullable = true)))
}

/** A tiny read-only table serving DRIVER-COMPUTED metadata rows (the
  * `$history` / `$files` surfaces). The frame is LAZY: resolving the
  * table (EXPLAIN, schema checks, repeated loadTable on the query path)
  * costs zero Spark jobs — the metadata computation runs only when the
  * scan actually plans its partitions, once per query execution. Bounded
  * by versions/files, never by data. */
class CdcLocalTable(tableName: String, tblSchema: StructType,
    df: () => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability._
  import org.apache.spark.sql.connector.read._

  // executeCollect returns safely-copied InternalRows (bounded metadata);
  // lazy so EXPLAIN / resolution never pays the manifest jobs
  private lazy val rows: Array[InternalRow] =
    df().queryExecution.executedPlan.executeCollect()

  override def name(): String = tableName
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] = Set(BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = tblSchema
      override def toBatch: Batch = this
      override def description(): String = s"$tableName metadata"
      override def planInputPartitions(): Array[InputPartition] =
        Array(CdcLocalPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition): PartitionReader[InternalRow] =
            new PartitionReader[InternalRow] {
              private val it = p.asInstanceOf[CdcLocalPartition].rows.iterator
              private var cur: InternalRow = _
              override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
        }
    }
}

case class CdcLocalPartition(rows: Array[InternalRow])
    extends org.apache.spark.sql.connector.read.InputPartition

class CdcCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    CdcCatalog.names.map(n => Identifier.of(Array.empty[String], n)).toArray

  override def loadTable(ident: Identifier): Table =
    CdcCatalog.lookup(ident.name)
      .map[Table](d => new CdcStoreTable(s"$catalogName.${ident.name}", d))
      .orElse(CdcCatalog.lookupFeed(ident.name)
        .map(d => new CdcFeedTable(s"$catalogName.${ident.name}", d)))
      .orElse(metadataTable(ident.name))
      .getOrElse(throw new NoSuchTableException(ident))

  /** Iceberg-style METADATA TABLES on store tables, addressed with a `$`
    * suffix (`` SELECT * FROM graft.`x$history` ``): the ops surfaces
    * every lake exposes, served from pure driver-side metadata —
    *  - `x$history`  — one row per committed version
    *    ([[graft.operators.Cdc.describeHistory]]: commit time, bucket
    *    census, touched buckets, recorded rows); no data file opened.
    *  - `x$files`    — the current serving layout: one row per live data
    *    file (bucket, writer, path, bytes) plus the bucket's manifest
    *    row count; LIST-per-bucket metadata, no footer or page read.
    *  - `x$partitions` — per-bucket health (rows, base writer, pending
    *    delta depth, lazy-split marker): `WHERE delta_depth > 0 OR
    *    base_mod IS NOT NULL` is exactly the compaction-dirty set.
    * Unknown suffixes fail loudly with the supported list. */
  private def metadataTable(name: String): Option[Table] = {
    val cut = name.lastIndexOf('$')
    if (cut <= 0) return None
    val (base, suffix) = (name.substring(0, cut), name.substring(cut + 1))
    CdcCatalog.lookup(base).map { d =>
      // schemas are STATIC and the frame thunk is lazy: loading (or
      // EXPLAINing) a metadata table runs zero Spark jobs; describeHistory
      // itself reads every version manifest in ONE partitioned job
      val (schema, thunk): (StructType, () => org.apache.spark.sql.DataFrame) = suffix match {
        case "history" => (CdcCatalog.HistorySchema,
          () => Cdc.describeHistory(SparkSession.active, d.storePath))
        case "files" => (CdcCatalog.FilesSchema,
          () => Cdc.describeFiles(SparkSession.active, d.storePath, d.version))
        case "partitions" => (CdcCatalog.PartitionsSchema,
          () => Cdc.describePartitions(SparkSession.active, d.storePath, d.version))
        case other => throw new UnsupportedOperationException(
          s"$catalogName.$name: unknown metadata table '$$$other' " +
            "(supported: $history, $files, $partitions)")
      }
      new CdcLocalTable(s"$catalogName.$name", schema, thunk)
    }
  }

  /** SQL time travel — `VERSION AS OF <v>` pins a committed store
    * version (the registered pin, if any, is overridden by the query's
    * explicit ask). Feed tables refuse: the feed IS the history. */
  override def loadTable(ident: Identifier, version: String): Table =
    CdcCatalog.lookup(ident.name).fold[Table] {
      if (CdcCatalog.lookupFeed(ident.name).isDefined)
        throw new UnsupportedOperationException(
          s"${ident.name} is a change-feed table — it already serves the version history; " +
            "VERSION AS OF applies to the store table")
      throw new NoSuchTableException(ident)
    } { d =>
      val v =
        try version.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"VERSION AS OF wants a numeric committed store version, got '$version'") }
      new CdcStoreTable(s"$catalogName.${ident.name}", pinnedAt(d, v))
    }

  /** A time-travel pin serves the pinned version under that version's OWN
    * recorded merge keys AND bucket count — layout metadata is versioned
    * like the schema, so a query pinned BEFORE a merge-key rename or a
    * bucket split must validate (and prune) against the old layout, not
    * the live registration's evolved one. */
  private def pinnedAt(d: CdcCatalog.StoreDef, v: Long): CdcCatalog.StoreDef = {
    val (_, recorded, _, _) = Cdc.servingState(SparkSession.active, d.storePath, Some(v))
    d.copy(version = Some(v), keys = recorded.keys, nBuckets = recorded.nBuckets)
  }

  /** SQL time travel — `TIMESTAMP AS OF <t>` serves the newest version
    * whose COMMIT time (the manifest `_SUCCESS` marker's mtime — the
    * atomic commit point itself) is at or before `t`. Loud when `t`
    * predates the oldest retained commit: serving the oldest instead
    * would silently misrepresent history vacuum already dropped. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    CdcCatalog.lookup(ident.name).fold[Table](throw new NoSuchTableException(ident)) { d =>
      val tsMillis = Math.floorDiv(timestampMicros, 1000L)
      val commits = Cdc.versionCommitTimes(SparkSession.active, d.storePath)
      val at = commits.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse {
        throw new IllegalArgumentException(
          s"TIMESTAMP AS OF $tsMillis ms predates the oldest retained commit of " +
            s"${ident.name} (${commits.headOption.fold("<empty store>")(c =>
              s"v=${c._1} @ ${c._2} ms")}); older history was vacuumed")
      }
      new CdcStoreTable(s"$catalogName.${ident.name}", pinnedAt(d, at))
    }

  override def tableExists(ident: Identifier): Boolean =
    CdcCatalog.lookup(ident.name).isDefined || CdcCatalog.lookupFeed(ident.name).isDefined

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "CDC store tables are registered via CdcCatalog.register, written via Cdc.processPartitionedBatch")
  /** SQL DDL for the store's METADATA-ONLY schema evolution:
    * `ALTER TABLE graft.x RENAME COLUMN a TO b` and
    * `ALTER TABLE graft.x DROP COLUMN c` route to
    * [[graft.operators.Cdc.renameColumn]]/[[graft.operators.Cdc.dropColumn]]
    * — one CAS metadata commit, zero data files rewritten, the same
    * collision-safe column mapping the Scala API speaks. Renaming a
    * MERGE KEY also renames it in the live registration (the layout hash
    * is over values, so bucketing is untouched); dropping one refuses
    * loudly. ADD COLUMN stays on the maintenance API (`payloadCols`
    * additive evolution) because a column needs a TYPE SOURCE batch. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = CdcCatalog.lookup(ident.name).getOrElse {
      if (CdcCatalog.lookupFeed(ident.name).isDefined)
        throw new UnsupportedOperationException(
          s"${ident.name} is a change-feed table — ALTER applies to the store table")
      throw new NoSuchTableException(ident)
    }
    require(d.version.isEmpty,
      s"${ident.name} is version-pinned (time travel) — ALTER goes to the live table")
    val spark = SparkSession.active
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"nested column rename is not supported: ${r.fieldNames.mkString(".")}")
        val from = r.fieldNames.head
        val v = Cdc.renameColumn(spark, d.storePath, from, r.newName)
        val newKeys = d.keys.map(k => if (k == from) r.newName else k)
        if (d.keys.contains(from)) {
          // EVERY live (unpinned) registration sharing this store path
          // serves the post-rename metadata and must follow the rename —
          // updating only ident.name would leave a sibling registration
          // whose next loadTable fails the keys-vs-recorded-meta check
          // far from this ALTER. Version-PINNED registrations stay: they
          // serve their pinned era's recorded keys, which the rename
          // (metadata of LATER versions) never touches.
          CdcCatalog.renameKeyForPath(d.storePath, from, r.newName)
          // the per-path dropColumn guard must speak the new names
          Cdc.registerMergeKeys(d.storePath, newKeys)
        }
        CdcCatalog.materializeFeed(spark, d.storePath, newKeys, v)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"nested column drop is not supported: ${del.fieldNames.mkString(".")}")
        // Cdc.dropColumn re-checks via the registry; this is the earlier,
        // clearer refusal naming the table
        require(!d.keys.contains(del.fieldNames.head),
          s"cannot drop ${del.fieldNames.head}: it is a merge key of ${ident.name}")
        val v = Cdc.dropColumn(spark, d.storePath, del.fieldNames.head, keys = d.keys)
        CdcCatalog.materializeFeed(spark, d.storePath, d.keys, v)
      case add: TableChange.AddColumn =>
        val v = addColumnChange(ident.name, d, add)
        CdcCatalog.materializeFeed(spark, d.storePath, d.keys, v)
      case up: TableChange.UpdateColumnType =>
        // `ALTER TABLE graft.x ALTER COLUMN c TYPE BIGINT` — metadata-only
        // TYPE WIDENING (INT->BIGINT / FLOAT->DOUBLE): carried files keep
        // their narrow physical type and every reader up-casts
        // ([[graft.operators.Cdc.widenColumn]]); anything non-widening —
        // and any merge key — refuses loudly inside the operator.
        require(up.fieldNames.length == 1,
          s"nested column type change is not supported: ${up.fieldNames.mkString(".")}")
        val v = Cdc.widenColumn(spark, d.storePath, up.fieldNames.head, up.newDataType)
        CdcCatalog.materializeFeed(spark, d.storePath, d.keys, v)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE ${ident.name}: only ADD/RENAME/DROP COLUMN and widening " +
            s"ALTER COLUMN TYPE are metadata-only on a CDC store " +
            s"(got ${other.getClass.getSimpleName})")
    }
    loadTable(ident)
  }

  /** SQL `ADD COLUMN` — the most common evolution of all, routed to the
    * same ADDITIVE contract the maintenance API's `payloadCols` proves:
    * the commit is metadata-only (schema widened by one nullable column;
    * every bucket carried by reference), carried files serve NULL for
    * the new column (recorded-schema read), and a re-added name whose
    * physical spelling was ever used before mints a fresh physical name
    * so dropped data never resurrects. Non-additive spellings refuse
    * loudly: NOT NULL (carried rows would all violate it), DEFAULT
    * (carried files can't serve it), nested fields, positions, and
    * types the catalog can't serve. */
  private def addColumnChange(
      name: String, d: CdcCatalog.StoreDef, add: TableChange.AddColumn): Long = {
    require(add.fieldNames.length == 1,
      s"nested column add is not supported: ${add.fieldNames.mkString(".")}")
    val col = add.fieldNames.head
    require(add.isNullable,
      s"ALTER TABLE $name ADD COLUMN $col: only NULLABLE columns are additive — " +
        "every carried row serves NULL for the new column")
    require(add.defaultValue == null,
      s"ALTER TABLE $name ADD COLUMN $col: DEFAULT is not supported — carried " +
        "files cannot serve a default (new rows supply values via the write path)")
    require(add.position == null,
      s"ALTER TABLE $name ADD COLUMN $col: positions are not supported — " +
        "columns append (physical layouts of carried files never change)")
    require(CdcCatalog.supportedType(add.dataType),
      s"ALTER TABLE $name ADD COLUMN $col: unsupported type " +
        s"${add.dataType.simpleString} (supported: long/int/double/float/string/" +
        "boolean/date/decimal)")
    Cdc.addColumn(SparkSession.active, d.storePath, col, add.dataType)
  }
  override def dropTable(ident: Identifier): Boolean = {
    val known = tableExists(ident)
    CdcCatalog.unregister(ident.name) // deregisters only; files stay (vacuum owns deletion)
    known
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename by re-registering under the new name")

  // FunctionCatalog, two tiers:
  //  - `bucket`: the layout transform's function, so Catalyst can convert
  //    the reported `bucket(n, keys)` transform into a TransformExpression
  //    and prove two scans co-partitioned;
  //  - the engine's SCALAR functions (graft.functions.SqlFunctions):
  //    `SELECT graft.cosine(...)` etc. — the SQL-facing twin of the
  //    Catalyst expressions, planned as codegen-inlined Invoke calls.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    ("bucket" +: graft.functions.SqlFunctions.all.keys.toSeq.sorted)
      .map(n => Identifier.of(Array.empty[String], n)).toArray
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") CdcBucketFunction
    else graft.functions.SqlFunctions.all.getOrElse(ident.name,
      throw new NoSuchFunctionException(ident))
  override def functionExists(ident: Identifier): Boolean =
    ident.name == "bucket" || graft.functions.SqlFunctions.all.contains(ident.name)
}

/** The store's bucket function as a V2 catalog function:
  * `pmod(xxhash64(keys), n)` — EXACTLY [[Cdc.bucketExpr]], evaluated
  * through the same Catalyst `XxHash64` so the two can never drift.
  * `canonicalName` is what Spark compares to prove two scans use the
  * same partition function. */
object CdcBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(nBuckets, keys...): pmod(xxhash64(keys), nBuckets) — the CDC store layout hash"
  override def bind(inputType: StructType): BoundFunction = {
    require(
      inputType.fields.nonEmpty && inputType.fields.head.dataType == IntegerType,
      s"bucket expects (int nBuckets, keys...), got ${inputType.catalogString}")
    new CdcBucketBound(inputType.fields.drop(1).map(_.dataType))
  }
}

class CdcBucketBound(keyTypes: Array[DataType]) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = IntegerType +: keyTypes
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.cdc.bucket"
  override def isResultNullable(): Boolean = false

  // the store's own hash, via the same Catalyst expression bucketExpr
  // compiles to — input field 0 is nBuckets, keys start at 1
  @transient private lazy val hash = XxHash64(
    keyTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(i + 1, t, nullable = true): org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq,
    42L) // the xxhash64 SQL function's fixed seed — bucketExpr's exact hash

  override def produceResult(input: InternalRow): Integer = {
    val h = hash.eval(input).asInstanceOf[Long]
    val n = input.getInt(0)
    val m = h % n
    (if (m < 0) m + n else m).toInt
  }
}

/** One registered CDC store, served at its resolved version. The layout
  * (version, recorded payload schema, bucket → directory map) is resolved
  * once per `loadTable` on the driver from nBuckets-bounded metadata.
  *
  * The table also WRITES: `df.writeTo("graft.name").append()` (and SQL
  * `INSERT INTO`) is keyed UPSERT — every appended row is a full-payload
  * `op=U` record at recency = the new version, so later appends win per
  * key and the write commits ONE new store version through the same
  * touched-bucket MERGE path as the maintenance API (Kudu-style upsert
  * tables). Deletes and schema evolution stay on the maintenance API
  * (`processPartitionedBatch`) where recency/op are explicit; `INSERT
  * OVERWRITE` is refused — a store's history is append-only, retention
  * is `vacuum`'s job. */
class CdcStoreTable(tableName: String, d: CdcCatalog.StoreDef)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsRowLevelOperations with SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability._

  /** `_bucket` as a METADATA column (the Iceberg `_file`/Delta
    * `_metadata` pattern): `SELECT k, _bucket FROM graft.x` exposes the
    * layout hash each row serves from — the debugging/audit handle for
    * reshard verification and skew inspection. Served as a per-partition
    * CONSTANT (a scan partition IS one bucket), so it costs nothing;
    * hidden from `SELECT *` like every metadata column. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_bucket"
      override def dataType(): org.apache.spark.sql.types.DataType = IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        s"layout bucket id = pmod(xxhash64(${d.keys.mkString(", ")}), ${d.nBuckets})"
    })

  // ONE manifest read + one schema-metadata read resolves everything the
  // table serves (the catalog constructs a table per resolution — this is
  // the query hot path, separate accessors would re-run the manifest job
  // three times per table load)
  private[cdc] val (servedVersion, storeMeta, manifestFull, bucketDirs) =
    Cdc.servingState(SparkSession.active, d.storePath, d.version)

  // merge keys are NON-NULL by the store's contract (the layout hash
  // is defined on them); declaring it lets Spark accept them as row-id
  // attributes for the delta-based DML path (NULLABLE_ROW_ID refusal)
  private[cdc] val payloadSchema: StructType =
    StructType(storeMeta.schema.fields.map(f =>
      if (d.keys.contains(f.name)) f.copy(nullable = false) else f))

  /** Manifest-recorded row counts per bucket (absent for buckets whose
    * manifests predate count recording, and for buckets with pending
    * merge-on-read deltas — their resolved count is unknown until
    * compaction) — the scan sums these into `estimateStatistics.numRows`
    * so the CBO costs store joins. */
  private[cdc] val bucketRows: Map[Int, Long] =
    manifestFull.collect { case (p, e) if e.rows.isDefined => p -> e.rows.get }

  /** Manifest-recorded per-column footer statistics per bucket — the
    * scan folds these into V2 column statistics (min/max/nullCount) so
    * the CBO can estimate filter selectivity on store columns. */
  private[cdc] val bucketColStats: Map[Int, Map[String, Cdc.ColStatRec]] =
    manifestFull.map { case (p, e) => p -> e.stats }

  /** Ordered merge-on-read delta directories per bucket (empty for clean
    * buckets) — the scan plans these into each bucket's partition so the
    * reader can fold base + deltas last-writer-wins. (Delta dirs are
    * always at the CHILD coordinate, even for lazily-split children.) */
  private[cdc] val bucketDeltaDirs: Map[Int, Seq[String]] =
    manifestFull.collect { case (p, e) if e.deltas.nonEmpty =>
      p -> e.deltas.map(w => s"${d.storePath}/parts/_bucket=$p/_writer=$w")
    }

  /** Lazily-split children ([[graft.operators.Cdc.splitBuckets]]) still
    * serving a hash-slice of their parent's files — their partitions take
    * the row-path slicing reader, and stats/count/limit pushdown pause
    * until each child's first native rewrite. */
  private[cdc] val slicedBuckets: Set[Int] =
    manifestFull.collect { case (p, e) if e.baseMod.isDefined => p }.toSet

  /** Logical→physical column names (diverging entries only): what the
    * parquet files spell after renames. The scan translates its file
    * reads, key-panel filters, pushed aggregates, and colstat lookups
    * through this; everything Catalyst sees stays logical. */
  private[cdc] val physMap: Map[String, String] = storeMeta.mapping

  {
    val bad = payloadSchema.fields.filterNot(f => CdcCatalog.supportedType(f.dataType))
    require(bad.isEmpty,
      s"unsupported payload types in $tableName: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
        s" (supported: long/int/double/float/string/boolean/date/decimal)")
    val missing = d.keys.filterNot(payloadSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"merge keys absent from $tableName payload schema: ${missing.mkString(", ")}")
    // the registration's layout must match what the store RECORDS: a
    // wrong nBuckets/key set wouldn't fail — key-panel and runtime bucket
    // pruning would hash into buckets the rows don't live in and serve
    // silently WRONG (missing) results
    require(storeMeta.nBuckets == d.nBuckets,
      s"$tableName registration bucket count ${d.nBuckets} does not match the store's " +
        s"recorded layout (mod ${storeMeta.nBuckets})")
    require(storeMeta.keys == d.keys,
      s"$tableName registration keys (${d.keys.mkString(",")}) do not match the store's " +
        s"recorded merge keys (${storeMeta.keys.mkString(",")})")
  }

  override def name(): String = tableName
  override def schema(): StructType = payloadSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(BATCH_READ, V1_BATCH_WRITE, TRUNCATE, STREAMING_WRITE).asJava
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(d.nBuckets, d.keys: _*))
  override def properties(): util.Map[String, String] =
    Map("version" -> servedVersion.toString, "path" -> d.storePath).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap) =
    new CdcScanBuilder(this, d)

  /** `DELETE FROM` as a keyed MERGE: predicates that pin the merge keys
    * to a bounded panel (=/IN conjuncts, every key covered) become one
    * `op=D` changelog row per key tuple, committed as ONE new store
    * version through the same touched-bucket path as every other write —
    * bucket-scoped IO, no snapshot rewrite. Anything short of a full key
    * pin refuses ([[CdcScan.pinnedKeyTuples]]): widening `k=5 AND
    * bal>10` to `k=5` would delete rows the predicate kept, and
    * arbitrary-predicate deletes are the maintenance API's job. TRUNCATE
    * arrives here as an always-true predicate and refuses the same way. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    d.version.isEmpty &&
      CdcScan.pinnedKeyTuples(predicates, d.keys, payloadSchema).isDefined

  // TruncatableTable's default would silently NO-OP when canDeleteWhere
  // refuses the always-true predicate (TruncateTableExec ignores a false
  // return) — an append-only store must refuse OUT LOUD instead.
  override def truncateTable(): Boolean =
    throw new UnsupportedOperationException(
      s"TRUNCATE TABLE $tableName is not supported: a CDC store's history is " +
        "append-only (retention is vacuum's job)")

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(d.version.isEmpty,
      s"$tableName is version-pinned (time travel) — deletes go to the live table")
    val tuples = CdcScan.pinnedKeyTuples(predicates, d.keys, payloadSchema).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE FROM $tableName needs =/IN predicates pinning every merge key " +
          s"(${d.keys.mkString(", ")}) to a bounded panel; arbitrary-predicate " +
          "deletes are the maintenance API's job (processPartitionedBatch)"))
    if (tuples.isEmpty) return // a NULL-only panel matches no row: no-op, no version
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, lit}
    import scala.jdk.CollectionConverters._
    val keySchema = StructType(d.keys.map(k => payloadSchema(k)).toArray)
    val keyDf = spark.createDataFrame(
      tuples.map(t => org.apache.spark.sql.Row.fromSeq(t)).asJava, keySchema)
    // racing batch writers: disjoint-bucket losers REBASE (commitCas) and
    // land on a later version; overlapping losers throw retryable — and
    // because a key-tuple DELETE's meaning is independent of the snapshot
    // it raced ("these keys are gone"), the whole statement safely
    // re-applies here under a bounded retry (unlike staged row-level
    // verdicts, which must re-scan). Feed the RETURNED committed version
    // forward, never the minted one.
    val committed = CdcCatalog.retryConflicts(s"DELETE FROM $tableName") {
      val next = Cdc.manifestVersions(spark, d.storePath).max + 1
      val changelog = payloadSchema.fields.filterNot(f => d.keys.contains(f.name))
        .foldLeft(keyDf)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
        .withColumn("_seq", lit(next)).withColumn("_op", lit("D"))
      Cdc.processPartitionedBatch(changelog,
        Cdc.readPartitionedSnapshot(spark, d.storePath).limit(0),
        d.keys, Seq(col("_seq")), col("_op"), d.storePath, d.nBuckets, next,
        casCommit = true, morCommit = d.morDml)
    }
    CdcCatalog.materializeFeed(spark, d.storePath, d.keys, committed)
  }

  /** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE`, the
    * delta-based row-level contract ([[CdcRowLevelOperation]]): Spark
    * scans the target through the ordinary bucket-pruned store scan,
    * evaluates the statement, and the per-row verdicts stage as
    * changelog rows committed through the MERGE path. Bounded-key-panel
    * DELETEs never get here — `canDeleteWhere` claims them first
    * (metadata-only, no target scan). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(d.version.isEmpty,
      s"$tableName is version-pinned (time travel) — row-level writes go to the live table")
    // runs at ANALYSIS time — early enough to land the delta-DML runtime
    // pruning rule (graft.catalyst.DeltaDmlRuntimeFiltering) in the
    // optimizer before this very statement is optimized
    graft.catalyst.GraftExtensions.register(SparkSession.active)
    () => new CdcRowLevelOperation(this, d, info.command)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate
        // Update mode arrives as appended upsert rows (the Kafka-sink
        // convention) — exactly this table's write semantics, so streaming
        // aggregations maintain per-key results in the store
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      // Declared so OVERWRITE resolves to OUR refusal (not Spark's generic
      // unsupported-operation): a store's history is append-only.
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder =
        throw new UnsupportedOperationException(
          s"INSERT OVERWRITE into $tableName is not supported: a CDC store's " +
            "history is append-only (retention is vacuum's job)")
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(d.version.isEmpty,
              s"$tableName is version-pinned (time travel) — writes go to the live table")
            val missing = payloadSchema.fields.filterNot(f =>
              info.schema().fields.exists(g => g.name == f.name && g.dataType == f.dataType))
            require(missing.isEmpty && info.schema().length == payloadSchema.length,
              s"streaming write schema must match $tableName payload " +
                s"(${payloadSchema.toDDL}), got ${info.schema().toDDL} — evolution " +
                "stays on the maintenance API (processPartitionedBatch payloadCols)")
            new CdcStreamingWrite(tableName, d, info.schema(), info.queryId())
          }
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
                require(!overwrite,
                  s"INSERT OVERWRITE into $tableName is not supported: a CDC store's " +
                    "history is append-only (retention is vacuum's job)")
                require(d.version.isEmpty,
                  s"$tableName is version-pinned (time travel) — writes go to the live table")
                val spark = data.sparkSession
                // keyed UPSERT: full-payload U records at recency = the
                // new version; parts land under a unique CAS writer
                // token and the manifest rename is the atomic commit
                // point, so neither a crashed attempt nor a concurrent
                // writer can interleave into this version's files
                import org.apache.spark.sql.functions.{col, lit}
                // racing INSERTs: disjoint-bucket losers rebase to a later
                // version inside commitCas; overlapping losers throw
                // retryable — and an upsert's meaning ("these full rows
                // win") is snapshot-independent, so the statement safely
                // re-applies under a bounded retry. Feed the RETURNED
                // committed version forward.
                val committed = CdcCatalog.retryConflicts(s"INSERT INTO $tableName") {
                  val next2 = Cdc.manifestVersions(spark, d.storePath).max + 1
                  Cdc.processPartitionedBatch(
                    data.withColumn("_seq", lit(next2)).withColumn("_op", lit("U")),
                    Cdc.readPartitionedSnapshot(spark, d.storePath).limit(0),
                    d.keys, Seq(col("_seq")), col("_op"),
                    d.storePath, d.nBuckets, next2,
                    casCommit = true, morCommit = d.morDml)
                }
                CdcCatalog.materializeFeed(spark, d.storePath, d.keys, committed)
              }
            }
        }
    }
}
