package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC upsert apply (SURVEY.md §2.C extension) — MERGE INTO semantics as
  * a batch operator: apply a changelog of keyed I/U/D records to a
  * snapshot with LAST-WRITER-WINS per key, the standard lakehouse write
  * pattern (Delta/Iceberg MERGE, Debezium sink compaction, Kafka log
  * compaction all reduce to this):
  *
  *   - a key's LATEST changelog record decides its fate: `D` removes the
  *     key, anything else (`I`/`U` — upsert does not distinguish) replaces
  *     the snapshot row with the changelog payload, inserting if the key
  *     was absent;
  *   - keys the changelog never touches keep their snapshot row verbatim;
  *   - earlier changelog records for a key are dead — compaction, not
  *     replay, so a key updated 10⁶ times costs one output row.
  *
  * Plan shape (the 100 TB argument): ONE window rank over the changelog's
  * key exchange picks the survivor per key (rank=1 filters push to
  * WindowGroupLimit, so hot keys prune below the sort — no per-key
  * buffering of the full update history), then the snapshot joins the
  * survivor key set with a LEFT ANTI (keyed shuffle or broadcast when the
  * day's delta is small — the common case: GB-sized changelog vs TB-sized
  * snapshot) and the survivors union in. The snapshot is scanned exactly
  * once and never windowed; all per-key history cost lands on the
  * changelog, which is delta-sized.
  *
  * Determinism: recency is `orderCols` ascending, later = winner; ties
  * must be broken by a unique column (sequence number / LSN) in
  * `orderCols` or the winner is partition-dependent — same contract as
  * [[Scd.history]].
  */
object Cdc {

  /** Apply `changelog` to `snapshot`. The changelog must contain every
    * `snapshot` column (the full-row payload), `opCol` ∈ {I, U, D}
    * (case-insensitive), and the `orderCols` recency columns. Returns the
    * upserted snapshot with exactly the snapshot's schema. */
  def upsert(
      snapshot: DataFrame,
      changelog: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      opCol: Column): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val missing = snapshot.columns.filterNot(changelog.columns.contains)
    require(missing.isEmpty, s"changelog lacks snapshot payload columns: ${missing.mkString(",")}")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    val latest = changelog
      .withColumn("__op", upper(opCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val untouched = snapshot.join(latest.select(keys.map(col): _*), keys, "left_anti")
    val applied = latest
      .filter(col("__op") =!= "D")
      .select(snapshot.columns.map(col).toIndexedSeq: _*)
    untouched.unionByName(applied)
  }

  /** Committed version directories under `storePath` — enumerated via the
    * Hadoop FileSystem API (like CorpusPrep's delta listing), so the store
    * works on whatever filesystem the path names (local, hdfs://, s3a://);
    * a `java.io.File` listing would silently see an empty store on any
    * non-local scheme and rebuild every batch from the seed. */
  private def committedVersions(
      spark: org.apache.spark.sql.SparkSession, storePath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      // a crash mid-write leaves a v= directory WITHOUT Spark's _SUCCESS
      // marker — it must be invisible as a parent, or the next batch
      // would build on a torn snapshot; its replay overwrites it anyway
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  // --- partition-scoped snapshot store ---------------------------------
  //
  // Rewriting the FULL snapshot every micro-batch is fine for demo-sized
  // state, hopeless at a TB snapshot with a GB/day changelog. This store
  // is the real lakehouse MERGE shape: the snapshot is hash-bucketed on the merge key, each micro-batch rewrites ONLY the
  // buckets its delta touches, and a tiny per-version MANIFEST maps every
  // bucket to the batch that last wrote it — untouched buckets are carried
  // into the new version BY REFERENCE (a manifest row), their files never
  // opened, never rewritten. Per-batch cost is |delta| + |touched
  // buckets|, i.e. GB-scale work against a TB-scale store when the delta's
  // key set is concentrated — exactly Delta/Iceberg MERGE file skipping,
  // minus the formats' extra machinery.
  //
  // Layout:
  //   storePath/parts/_bucket=<p>/_writer=<batch>/part-*.parquet
  //   storePath/manifest/v=<batch>/   (rows: _bucket INT, _writer LONG,
  //                                    plus _schema.ddl: the version's metadata)
  //
  // The manifest write is the COMMIT POINT (Spark's _SUCCESS marker): a
  // crash mid-parts-write leaves orphan (bucket, writer) directories that
  // no manifest references — invisible to serving, overwritten verbatim by
  // the checkpoint's replay of the same batch (the parts write is dynamic
  // partition overwrite keyed on (bucket, writer), and a replayed batch
  // recomputes the identical partitions from the identical parent
  // manifest). Exactly-once on top of at-least-once replay, per bucket.

  private def partsPath(storePath: String)    = s"$storePath/parts"
  private def manifestPath(storePath: String) = s"$storePath/manifest"
  private def bucketDir(storePath: String, p: Int, w: Long): String =
    s"${partsPath(storePath)}/_bucket=$p/_writer=$w"

  /** One bucket's manifest entry. `base` names the writer whose files
    * hold the bucket's last full rewrite (None for a bucket born from
    * delta commits alone — possible when a merge-on-read DML touches a
    * bucket no prior version ever wrote); `deltas` are the MERGE-ON-READ
    * delta writers in COMMIT ORDER (oldest first) — each delta dir holds
    * per-key changelog survivors (`_cdc_op` ∈ {U, D}) that the read path
    * folds over the base last-writer-wins. `rows`/`stats` are recorded
    * only while the bucket is delta-free: a delta'd bucket's resolved
    * row count is unknowable without the fold, and recording the stale
    * base numbers would misstate the table to the CBO and to count
    * pushdown (both already treat absence as unknown, never as zero).
    * On disk: `_writer` = base (−1 encodes None — old readers never see
    * it because old stores never carry deltas), `_deltas` array<long>,
    * `_basemod` int (null = native).
    *
    * `baseMod` is the LAZY BUCKET-SPLIT marker ([[splitBuckets]]): when
    * set, this child entry's BASE files were written under the recorded
    * (smaller) modulus and physically live at the PARENT bucket
    * coordinate (`bucket mod baseMod`) — the reader slices the parent's
    * rows to this child with the layout hash. Delta writers are ALWAYS
    * at the child coordinate (splits refuse stores with pending deltas,
    * so no delta can predate the split). `rows`/`stats` are absent while
    * baseMod is set (a child's slice is unknowable without reading);
    * the child's next rewrite (CoW touch, deep-delta fold, compaction)
    * clears the marker. */
  private[graft] case class BucketEntry(
      base: Option[Long],
      rows: Option[Long],
      stats: Map[String, ColStatRec],
      deltas: Seq[Long] = Nil,
      baseMod: Option[Int] = None) {
    /** Every writer id whose part dir this entry keeps live. */
    def writers: Seq[Long] = base.toSeq ++ deltas
    /** The physical bucket coordinate this entry's BASE files live at. */
    def physBucket(bucket: Int): Int = baseMod.fold(bucket)(m => bucket % m)
  }

  /** A version's full schema metadata: the LOGICAL payload schema the
    * version serves, the store's LAYOUT (merge keys and bucket count),
    * the COLUMN MAPPING from logical names to the physical names stored
    * in parquet files (entries only for columns whose names diverged —
    * renames; lookups go through [[StoreMeta.phys]]), and the RETIRED
    * physical names of dropped columns (a re-added logical column of the
    * same name must mint a FRESH physical name, or dropped data would
    * resurrect out of carried files). Physical names are immutable for a
    * column's whole life — that is what makes RENAME and DROP
    * metadata-only commits: no data file is rewritten, ever. */
  private[graft] case class StoreMeta(
      schema: org.apache.spark.sql.types.StructType,
      /** The store's MERGE KEYS as recorded at commit time — what makes a
        * store self-describing enough for READ-TIME work that needs row
        * identity (the merge-on-read fold, the split slice): a reader of
        * a store with pending delta files never guesses the key columns. */
      keys: Seq[String],
      /** The layout's bucket count, recorded at commit time — what lets
        * maintenance entry points ([[compactStore]]) validate a caller's
        * layout arguments instead of silently re-bucketing the store
        * wrong. */
      nBuckets: Int,
      mapping: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      /** The newest version id that changed the mapping (rename/drop) —
        * the CDF boundary: feed versions at or before it carry pre-change
        * column names. None for never-mapped stores. */
      mapChangeV: Option[Long] = None) {
    def phys(logical: String): String = mapping.getOrElse(logical, logical)
    /** The schema as the parquet files spell it (same positions/types). */
    def physicalSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        schema.fields.map(f => f.copy(name = phys(f.name))))
    /** Every physical name ever used — the pool fresh names must avoid. */
    def usedPhysical: Set[String] =
      schema.fieldNames.map(phys).toSet ++ retired
  }

  /** The metadata file's one line: a JSON object
    * `{"ddl": ..., "mapping": {...}, "retired": [...], "mapChangeV": ...,
    * "keys": [...], "nBuckets": n}`. */
  private def metaLine(m: StoreMeta): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("ddl" -> m.schema.toDDL) ~
        ("mapping" -> m.mapping) ~
        ("retired" -> m.retired) ~
        ("mapChangeV" -> m.mapChangeV) ~
        ("keys" -> m.keys) ~
        ("nBuckets" -> m.nBuckets)))
  }

  private def parseMetaLine(line: String): StoreMeta = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(line)
    def bad(field: String): Nothing =
      throw new IllegalStateException(s"bad store metadata ($field): $line")
    def strings(field: String): Seq[String] = (j \ field) match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }
    val ddl = (j \ "ddl") match {
      case JString(s) => s
      case _ => bad("ddl")
    }
    val mapping = (j \ "mapping") match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val mapChangeV = (j \ "mapChangeV") match {
      case JInt(v)  => Some(v.toLong)
      case JLong(v) => Some(v)
      case _        => None
    }
    val nBuckets = (j \ "nBuckets") match {
      case JInt(v)  => v.toInt
      case JLong(v) => v.toInt
      case _        => bad("nBuckets")
    }
    StoreMeta(org.apache.spark.sql.types.StructType.fromDDL(ddl), strings("keys"), nBuckets,
      mapping, strings("retired"), mapChangeV)
  }

  /** The file inside every committed `manifest/v=<id>/` dir that holds the
    * version's [[StoreMeta]] line. Both commit protocols write it into
    * their staging dir, so one rename commits manifest and metadata
    * together. */
  private val MetaFile = "_schema.ddl"

  /** A committed version's recorded metadata — the per-version payload
    * schema and layout: this is what makes ADDITIVE EVOLUTION serveable —
    * buckets carried by reference keep their old files, and reading them
    * under the version's recorded schema fills the absent columns with
    * NULL (plain parquet schema-on-read, no footer merge, no rewrite). A
    * committed version without the file is refused, naming the path. */
  private[graft] def storedMeta(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      v: Long): StoreMeta = {
    val p = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v/$MetaFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val line =
      try readUtf8(fs, p)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(s"committed version v=$v of $storePath has no " +
          s"recorded metadata: $p is missing") }
    parseMetaLine(line)
  }

  /** COMMIT PROVENANCE: whether `v` was committed through [[commitCas]]
    * (batch DML, compaction, splits, metadata-only commits) rather than
    * by a streaming epoch — provable on disk because only commitCas
    * lands an empty `_cas` marker inside the manifest dir. The one place
    * that knows how that is marked: the stream's version reservation,
    * its mixed-mode guards and the catalog's streaming write all ask
    * here. */
  private[graft] def isCasCommit(
      spark: org.apache.spark.sql.SparkSession, storePath: String, v: Long): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v/$CasMarker")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** The empty provenance marker [[commitCas]] stages next to the
    * metadata file. A separate file, not a metadata field: metadata-only
    * commits copy the parent's [[StoreMeta]], and a provenance field
    * would ride along with it. */
  private val CasMarker = "_cas"

  /** A small metadata file's whole content, decoded as UTF-8. */
  private[graft] def readUtf8(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Write a small metadata file whole, as UTF-8. */
  private[graft] def writeUtf8(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The payload schema extended with the layout's two partition columns,
    * for explicit-schema reads of `parts/` directories. */
  private def withPartCols(
      st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    StructType(st.fields ++ Seq(
      StructField("_bucket", IntegerType, nullable = true),
      StructField("_writer", LongType, nullable = true)))
  }

  /** Read bucket directories under the serving version's recorded
    * metadata `m` (nulls for columns predating the files). Files are
    * read under their PHYSICAL column names and served under the
    * version's LOGICAL names (column mapping — renames never rewrote
    * them). Returns payload columns only (`_bucket`/`_writer` dropped). */
  private def readBucketDirs(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      dirs: Seq[String],
      m: StoreMeta): DataFrame =
    spark.read.option("basePath", partsPath(storePath))
      .schema(withPartCols(m.physicalSchema))
      .parquet(dirs: _*)
      .select(m.schema.fields.map(f => col(m.phys(f.name)).as(f.name)).toIndexedSeq: _*)

  /** Read merge-on-read DELTA directories: like [[readBucketDirs]]
    * (physical→logical names, recorded-schema NULL fill) plus the delta
    * files' `_cdc_op` tombstone column, served as `__mor_op`. */
  private def readDeltaDirs(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      dirs: Seq[String],
      m: StoreMeta): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val fileSchema = StructType(
      m.physicalSchema.fields :+ StructField(DeltaOpCol, StringType, nullable = true))
    spark.read.option("basePath", partsPath(storePath))
      .schema(withPartCols(fileSchema))
      .parquet(dirs: _*)
      .select((m.schema.fields.map(f => col(m.phys(f.name)).as(f.name)) :+
        col(DeltaOpCol).as("__mor_op")).toIndexedSeq: _*)
  }

  /** The RESOLVED content of the given buckets at version `v`: buckets
    * without pending deltas stream straight off their base files (the
    * copy-on-write fast path — columnar, pushdown-friendly); buckets
    * WITH deltas fold base + ordered delta levels last-writer-wins per
    * merge key with `D` tombstones dropped — the merge-on-read read
    * path. The fold's window shuffles ONLY the delta'd buckets' rows
    * (clean buckets bypass it entirely), and compaction cadence
    * ([[compactStore]]) bounds how many delta levels ever stack, so at
    * 100 TB the fold is a bounded keyed shuffle over the DML-touched
    * slice of the store, never the snapshot. The fold's identity and
    * the split slice's modulus are the recorded layout (`meta.keys`,
    * `meta.nBuckets`). */
  private def readResolvedBuckets(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      v: Long,
      /** `v`'s recorded metadata, resolved once by the caller. */
      meta: StoreMeta,
      entries: Seq[(Int, BucketEntry)],
      /** Optional predicate over the MERGE KEY columns only (a bounded
        * point-lookup panel). Key predicates COMMUTE with the per-key
        * last-writer-wins fold — every level of a key's history passes or
        * drops together — so it is applied BELOW the window, to the base
        * and every delta level of dirty buckets (and to clean reads),
        * where parquet row-group stats over the key-sorted files can
        * skip IO. Arbitrary payload predicates must NOT be passed here:
        * filtering a key's newest delta row while keeping its base row
        * would resurrect the stale version. */
      keyFilter: Option[Column] = None): DataFrame = {
    if (entries.isEmpty)
      throw new IllegalStateException(s"snapshot v=$v is empty (all buckets deleted)")
    val keys = meta.keys
    def sliced(df: DataFrame): DataFrame = keyFilter.fold(df)(df.filter)
    // Base files of a group of entries: native entries stream their own
    // dirs; lazily-split children read their PARENT dirs — DEDUPED, since
    // sibling children share one — and slice rows to exactly the wanted
    // child ids with the layout hash (a row's child id is generation-
    // independent, so one read serves any mix of split generations, and
    // a sibling's read can never leak rows belonging to a child that was
    // already rewritten natively — that child id is not in the filter).
    def baseOf(group: Seq[(Int, BucketEntry)]): Option[DataFrame] = {
      val (legacy, native) = group.partition(_._2.baseMod.isDefined)
      val nativeDf = {
        val dirs = native.sortBy(_._1)
          .flatMap { case (p, e) => e.base.map(bucketDir(storePath, p, _)) }
        if (dirs.isEmpty) None else Some(readBucketDirs(spark, storePath, dirs, meta))
      }
      val legacyDf = {
        val dirs = legacy.sortBy(_._1)
          .flatMap { case (p, e) => e.base.map(w => bucketDir(storePath, e.physBucket(p), w)) }
          .distinct
        if (dirs.isEmpty) None
        else Some(readBucketDirs(spark, storePath, dirs, meta)
          .filter(bucketExpr(keys, meta.nBuckets).isin(legacy.map(_._1): _*)))
      }
      (nativeDf, legacyDf) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b)             => a.orElse(b)
      }
    }
    val (dirty, clean) = entries.partition(_._2.deltas.nonEmpty)
    val cleanDf: Option[DataFrame] = baseOf(clean).map(sliced)
    val dirtyDf: Option[DataFrame] =
      if (dirty.isEmpty) None
      else {
        val byP = dirty.sortBy(_._1)
        val baseDf = baseOf(byP).map(df =>
          sliced(df).withColumn("__mor_op", lit("U")).withColumn("__mor_seq", lit(0)))
        // one read per DELTA LEVEL (per-bucket manifest order — a key
        // lives in exactly one bucket, so per-bucket level index is a
        // valid global recency for that key's window)
        val maxDepth = byP.iterator.map(_._2.deltas.length).max
        val levels = (0 until maxDepth).flatMap { i =>
          val dirs = byP.collect {
            case (p, e) if e.deltas.length > i => bucketDir(storePath, p, e.deltas(i))
          }
          if (dirs.isEmpty) None
          else Some(sliced(readDeltaDirs(spark, storePath, dirs, meta))
            .withColumn("__mor_seq", lit(i + 1)))
        }
        val all = (baseDf.toSeq ++ levels).reduce(_.unionByName(_))
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__mor_seq").desc)
        Some(all.withColumn("__mor_rn", row_number().over(w))
          .filter(col("__mor_rn") === 1 && col("__mor_op") =!= "D")
          .drop("__mor_op", "__mor_seq", "__mor_rn"))
      }
    (cleanDf, dirtyDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (a, b) => a.orElse(b).getOrElse(throw new IllegalStateException(
        s"no readable bucket content for $storePath v=$v (entries reference no directories)"))
    }
  }

  /** Reserved physical column name of the merge-on-read tombstone marker
    * in delta files. Payload schemas may not use it. */
  private[graft] val DeltaOpCol = "_cdc_op"
  private def conformTo(
      df: DataFrame, target: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(target.fields.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  /** Deterministic bucket of a row's merge key: `xxhash64(keys) mod n`.
    * Recomputed identically on the snapshot and changelog sides — never
    * stored in the data, so the payload schema stays exactly the user's. */
  def bucketExpr(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** [[bucketExpr]] over literal key values, driver-side, evaluated
    * through Catalyst's own XxHash64 — what point lookups and the
    * catalog scan's bucket pruning hash their key panels with. Accepts
    * both EXTERNAL values (rows, v1 Filter literals: String,
    * java.sql.Date) and INTERNAL ones (V2 runtime predicates:
    * UTF8String, epoch-day Int). */
  private[graft] def bucketOfLiterals(
      values: Seq[(Any, org.apache.spark.sql.types.DataType)], nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val lits = values.map {
      case (u: org.apache.spark.unsafe.types.UTF8String, t) => Literal(u, t)
      case (i: Integer, t) if t == org.apache.spark.sql.types.DateType => Literal(i, t)
      case (v, t) => Literal.create(v, t)
    }
    val m = XxHash64(lits, 42L).eval(null).asInstanceOf[Long] % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  /** Refuse layout arguments that disagree with what the store RECORDED:
    * a wrong nBuckets silently writes rows into (or looks them up in)
    * buckets no reader's hash agrees with; wrong keys silently merge
    * distinct identities. */
  private def requireLayout(
      meta: StoreMeta, storePath: String, keys: Seq[String], nBuckets: Int): Unit = {
    require(meta.nBuckets == nBuckets,
      s"nBuckets mismatch for $storePath: store is bucketed mod ${meta.nBuckets}, " +
        s"caller passed $nBuckets")
    require(meta.keys == keys,
      s"merge-key mismatch for $storePath: store records (${meta.keys.mkString(",")}), " +
        s"caller passed (${keys.mkString(",")})")
  }

  /** STREAMING partition-scoped maintenance: exactly-once versioned
    * snapshots, last-writer-wins MERGE, with per-batch work proportional to the TOUCHED buckets, not the
    * snapshot. `nBuckets` sizes the rewrite granularity: a batch touching
    * k of n buckets rewrites k/n of the snapshot. Pick n so a bucket is a
    * few hundred MB at the target scale (file-sized), and note the
    * manifest and touched-bucket list are n-bounded driver state.
    * `vacuumEvery > 0` runs [[vacuum]] (keeping `keepVersions`) after
    * every N-th batch — the VACUUM cadence wired into maintenance so the
    * store's version history is bounded by policy, not stream length;
    * replay stays safe because vacuum never drops the newest batch's
    * parent (`keepVersions >= 2`) and never touches uncommitted writers.
    *
    * `feedPath` materializes the CHANGE FEED incrementally (the Delta CDF
    * shape): after each batch commits, [[changesBetweenCdf]](parent, id)
    * lands at `feedPath/v=<id>` — manifest-diff bounded, so the feed
    * write re-reads only the buckets the batch itself touched — and
    * DOWNSTREAM consumers tail the feed as an ordinary parquet file
    * stream (`spark.readStream.schema(...).parquet(feedPath)`), no custom
    * source needed. The rows are CDF-COMPLETE (insert / delete /
    * update_preimage / update_postimage + `_commit_version`), i.e.
    * retract-complete: [[cdfToZset]] + [[Ivm.aggDelta]] maintain any
    * downstream aggregate off the feed alone. The first batch establishes
    * the baseline and writes no feed (there is no prior committed version
    * to diff against); a replayed batch overwrites its own `v=`
    * directory, so the feed is exactly-once like the store.
    *
    * Feed RETENTION follows the store's: when `vacuumEvery` fires, feed
    * versions older than the retained manifest window are pruned too —
    * the Kafka-retention contract: a consumer may lag at most
    * `keepVersions − 1` committed batches; [[readFeedSince]] fails loudly
    * (never silently empty) when asked to resume from beyond the
    * window. */
  def maintainPartitionedSnapshot(
      changes: DataFrame,
      seed: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      opCol: Column,
      storePath: String,
      checkpoint: String,
      nBuckets: Int,
      vacuumEvery: Int = 0,
      keepVersions: Int = 2,
      feedPath: Option[String] = None,
      payloadCols: Seq[String] = Nil,
      compactFeedEvery: Int = 0,
      feedSegmentSize: Int = 16,
      /** MERGE-ON-READ epochs: commit each micro-batch as per-bucket DELTA
        * files (write IO O(|epoch delta|)) instead of rewriting every
        * touched bucket in full — the write-amplification fix for
        * high-frequency streams over large stores, where a small epoch
        * against a TB store otherwise rewrites whole buckets each tick.
        * Read-side fold depth stays bounded by `morMaxDepth`'s inline
        * auto-compaction (every morMaxDepth-th epoch touching a hot
        * bucket pays that bucket's rewrite — compaction amortized into
        * the stream). Replay stays exactly-once: the delta writer id IS
        * the epoch's version id, so a replayed epoch rewrites the same
        * delta dirs and manifest. The first epoch (seed materialization)
        * is always copy-on-write. */
      morCommit: Boolean = false,
      morMaxDepth: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        // Version RESERVATION (not `id` directly): out-of-band commits on
        // the same store — a bucket split between restarts, a manual
        // compaction, a catalog DML — also mint max+1 version ids, so a
        // maintainer that reused its BATCH id as the version id would
        // stomp whichever landed first (batch 2 overwriting the split's
        // v=2 manifest with a pre-split layout = silent corruption). The
        // checkpoint-owned mapping makes the assignment monotone AND
        // replay-stable: first attempt reserves max+1, a replay of the
        // same batch id reuses its reserved version and hits the existing
        // same-version overwrite contract.
        val v = reservedVersion(spark, checkpoint, storePath, id)
        processPartitionedBatch(batch, seed, keys, orderCols, opCol, storePath, nBuckets, v,
          payloadCols, morCommit = morCommit, morMaxDepth = morMaxDepth)
        for (fp <- feedPath) {
          // Materialize a feed version for EVERY committed store version
          // above the feed's high-water mark, not just this batch's: the
          // tail's retention law wants CONSECUTIVE versions (a front hole
          // reads as "vacuum outran the checkpoint" and throws), and an
          // out-of-band commit between restarts — a bucket split, a manual
          // compaction — commits a store version with no feed version. Its
          // CDF is the truthful answer anyway: empty for a content-no-op
          // layout commit. Ascending + overwrite-per-directory keeps the
          // back-fill replay/crash convergent.
          val committed = manifestVersions(spark, storePath).sorted
          val fedMax = (committedVersions(spark, fp) ++ feedSegments(spark, fp).map(_._2))
            .maxOption
          val floor = fedMax.getOrElse(committed.min)
          committed.filter(w => w > floor && w <= v).foreach { w =>
            // no retained parent to diff against (a vacuum without
            // feedPath pruned manifests past the feed's high-water mark):
            // skip — that era's CDF is unrecoverable and consumers behind
            // it must bootstrap from the snapshot, which the tail's
            // retention law already tells them loudly
            committedVersionsParent(committed, w).foreach { pw =>
              changesBetweenCdf(spark, storePath, pw, w, keys)
                .write.mode("overwrite").parquet(s"$fp/v=$w")
            }
          }
        }
        if (vacuumEvery > 0 && id % vacuumEvery == 0)
          vacuum(spark, storePath, keepVersions, feedPath)
        // feed COMPACTION cadence (the vacuumEvery of file counts): every
        // N-th batch, fold aged-out single versions into segments so a
        // long-running fine-grained stream leaves a bounded file count
        // behind it, not one directory per epoch. Runs AFTER vacuum so
        // only retained versions compact; replay-safe because compaction
        // is itself crash-convergent and never touches the newest
        // feedSegmentSize singles (the live consumers' window).
        if (compactFeedEvery > 0 && id % compactFeedEvery == 0)
          for (fp <- feedPath) compactFeed(spark, fp, feedSegmentSize)
      }

  /** The newest committed version strictly below `w`, if any retained. */
  private def committedVersionsParent(committedSorted: Seq[Long], w: Long): Option[Long] =
    committedSorted.filter(_ < w).lastOption

  /** The batch→version reservation behind [[maintainPartitionedSnapshot]]:
    * one tiny file per micro-batch id under `checkpoint/graft-versions/`,
    * holding the store version that batch commits. Written BEFORE the
    * store commit (write-tmp-then-rename), so every crash window
    * converges: crash before the reservation → replay re-reserves (store
    * untouched, max+1 unchanged); crash between reservation and commit →
    * replay reads the reservation and commits it; crash after commit →
    * replay reads the reservation and re-commits the same version, the
    * store's existing same-id overwrite contract. Fresh batches reserve
    * `max(committed)+1` (`max(id, …)` keeps a brand-new store's first
    * batches at their natural ids), so out-of-band versions interleave
    * instead of colliding. */
  private def reservedVersion(
      spark: org.apache.spark.sql.SparkSession,
      checkpoint: String,
      storePath: String,
      id: Long): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$checkpoint/graft-versions")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val f = new Path(dir, id.toString)
    var renameFailures = 0
    while (true) {
      if (fs.exists(f)) {
        val v = java.lang.Long.parseLong(readUtf8(fs, f).trim)
        // STALE-RESERVATION heal: if this batch crashed BETWEEN reserving
        // and committing, an out-of-band CAS commit (split, compaction,
        // DML) may have legitimately taken the reserved slot in the
        // meantime. That case is provable ([[isCasCommit]]) and nothing
        // of ours is at v (a committed batch of ours would be a non-CAS
        // commit), so re-reserving past it is safe and un-wedges the
        // stream; without this the replay would hit the mixed-mode
        // guard's loud refusal forever.
        val taken = manifestVersions(spark, storePath).contains(v) &&
          isCasCommit(spark, storePath, v)
        if (!taken) return v
        fs.delete(f, false)
      } else {
        val committed = manifestVersions(spark, storePath)
        val v = math.max(id, committed.maxOption.map(_ + 1L).getOrElse(id))
        val tmp = new Path(dir, s".${id}_tmp")
        writeUtf8(fs, tmp, v.toString)
        if (fs.rename(tmp, f)) {
          // Retention: Spark replays at most the CURRENT batch id (the
          // checkpoint committed through id−1 before id ever ran), so
          // older reservations are dead — prune them or a long-running
          // stream accumulates one file per epoch forever.
          fs.listStatus(dir).foreach { st =>
            val n = st.getPath.getName
            if (n.forall(_.isDigit) && n.toLong < id) fs.delete(st.getPath, false)
          }
          return v
        }
        fs.delete(tmp, false)
        renameFailures += 1
        // loop once more: a concurrent replay attempt winning the rename
        // is the expected cause (its value is now readable); a filesystem
        // that keeps failing renames WITHOUT producing the file must
        // surface, not recurse forever
        if (renameFailures >= 3 && !fs.exists(f))
          throw new java.io.IOException(
            s"version reservation rename kept failing for batch $id under $dir " +
              "with no concurrent winner — filesystem refuses renames?")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One micro-batch of [[maintainPartitionedSnapshot]], exposed for
    * replay/vacuum laws.
    *
    * SCHEMA EVOLUTION (`payloadCols`): by default the store's schema is
    * bound to the parent version's recorded schema (or `seed`'s for a
    * fresh store) — a changelog column the store does not
    * know is metadata (recency, op), not payload. Passing `payloadCols`
    * names the batch's payload explicitly, and the store evolves
    * ADDITIVELY: columns in `payloadCols` the stored schema lacks are
    * appended (typed from the batch), carried buckets keep their files
    * and serve NULL for the new columns, and the widened schema is
    * recorded for this version. Non-additive changes fail LOUDLY —
    * dropping a stored column (`payloadCols` must cover the stored
    * schema) or changing a stored column's type both throw before any
    * write, because silently coercing either corrupts every carried
    * bucket. */
  def processPartitionedBatch(
      batch: DataFrame,
      seed: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      opCol: Column,
      storePath: String,
      nBuckets: Int,
      id: Long,
      payloadCols: Seq[String] = Nil,
      casCommit: Boolean = false,
      morCommit: Boolean = false,
      morMaxDepth: Int = 8): Long = {
    require(nBuckets > 0, "nBuckets must be positive")
    // MERGE-ON-READ (`morCommit`, the point-DML write-amplification fix):
    // a copy-on-write commit rewrites every touched bucket IN FULL — at
    // 100 TB / 4096 buckets a 1-row MERGE rewrites ~25 GB. A delta commit
    // instead lands ONLY the batch's per-key survivors as per-bucket
    // DELTA files (payload + `_cdc_op` tombstone marker) and appends its
    // writer to each touched bucket's manifest delta list: write IO is
    // O(|delta|), the parent's data files are never opened. The read path
    // folds base + ordered deltas last-writer-wins ([[readResolvedBuckets]]);
    // [[compactStore]] folds deltas back into the base on a cadence.
    // STREAMING MoR (morCommit without casCommit) reuses the stream's own
    // replay idempotence: the delta writer id IS the version id
    // (deterministic), so a replayed epoch purges its stale `_writer=id`
    // dirs, recomputes the identical per-key survivors from the identical
    // parent manifest, and re-commits the identical manifest through the
    // same stage-and-rename as every streaming epoch — exactly-once, no
    // CAS token needed. Compaction can never race the stream's version
    // line: compactStore commits via CAS, and the stream's epoch guard
    // detects a foreign CAS commit at its slot loudly / re-pins past it.
    val spark = batch.sparkSession
    import spark.implicits._
    // OPTIMISTIC CONCURRENCY (`casCommit`, the batch-DML commit mode):
    // the streaming path replays a checkpoint-owned id and NEEDS
    // overwrite-on-same-id idempotence, but batch DML mints `id = latest
    // + 1` with no lock — two concurrent writers minting the same id
    // would interleave parts (same `_writer=id` dirs) and silently merge
    // manifests. Under CAS each ATTEMPT writes parts under a unique
    // writer TOKEN (so racing attempts can never clobber each other's
    // files) and commits by ATOMIC RENAME of a token-named staging
    // manifest dir onto `v=<id>` — first rename wins, the loser detects
    // the occupied version, deletes its own parts and staging dirs, and
    // throws [[ConcurrentCdcWriteException]] (retryable: re-read latest,
    // re-mint, re-apply). The store is readable at every instant: until
    // the rename the new version simply does not exist; after it the
    // manifest is complete (the metadata rides INSIDE the renamed dir).
    val writerId: Long = if (casCommit) mintCasToken() else id
    val parent = manifestVersions(spark, storePath).filter(_ < id).sorted.lastOption
    val parentEntries: Map[Int, BucketEntry] =
      parent.map(v => readManifestFull(spark, storePath, v)).getOrElse(Map.empty)
    val parentMeta: Option[StoreMeta] = parent.map(v => storedMeta(spark, storePath, v))
    parentMeta.foreach(requireLayout(_, storePath, keys, nBuckets))
    val priorSchema = parentMeta.map(_.schema).getOrElse(seed.schema)
    require(!priorSchema.fieldNames.contains(DeltaOpCol) && !batch.columns.contains(DeltaOpCol),
      s"$DeltaOpCol is a reserved layout column name (merge-on-read tombstone marker)")
    val target: org.apache.spark.sql.types.StructType =
      if (payloadCols.isEmpty) priorSchema
      else {
        import org.apache.spark.sql.types.{StructField, StructType}
        require(keys.forall(payloadCols.contains),
          s"payloadCols must contain every merge key (${keys.mkString(",")})")
        val dropped = priorSchema.fieldNames.filterNot(payloadCols.contains)
        require(dropped.isEmpty,
          s"schema evolution is additive-only: payloadCols drops stored columns ${dropped.mkString(",")}" +
            " (use dropColumn/renameColumn for metadata-only schema changes)")
        val batchTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
        val absent = payloadCols.filterNot(batchTypes.contains)
        require(absent.isEmpty, s"payload columns absent from batch: ${absent.mkString(",")}")
        priorSchema.fields.foreach(f => require(batchTypes(f.name) == f.dataType,
          s"type change on stored column ${f.name}: stored ${f.dataType.sql}, " +
            s"batch ${batchTypes(f.name).sql} — rewrite the store, evolution cannot coerce carried buckets"))
        StructType(priorSchema.fields ++ payloadCols
          .filterNot(priorSchema.fieldNames.contains)
          .map(c => StructField(c, batchTypes(c), nullable = true)))
      }
    // COLUMN MAPPING: columns added this batch mint their physical name —
    // the logical name itself unless that physical name was EVER used
    // before (a dropped column's retired physical, or a renamed column's
    // original): then a suffixed fresh name, so carried files' old data
    // can never resurrect under a re-added logical name
    val targetMeta: StoreMeta = {
      val base = parentMeta.getOrElse(StoreMeta(priorSchema, keys, nBuckets))
      var used = base.usedPhysical
      val newMap = target.fieldNames.filterNot(priorSchema.fieldNames.contains)
        .flatMap { c =>
          val p = mintPhysical(used, c)
          used += p
          if (p == c) None else Some(c -> p)
        }.toMap
      base.copy(schema = target, mapping = base.mapping ++ newMap)
    }
    // Stale-attempt hygiene + mixed-mode guard for EVERY non-CAS commit
    // (copy-on-write and merge-on-read alike): an earlier uncommitted run
    // of this id may have left `_writer=<id>` dirs that dynamic overwrite
    // would never clear, and a committed id bearing a CAS provenance
    // marker means batch DML took this slot — replaying over it would
    // destroy an acknowledged commit. (Detailed rationale on the purge
    // below, at its original copy-on-write call site.)
    if (!casCommit) {
      if (manifestVersions(spark, storePath).contains(id)) {
        if (isCasCommit(spark, storePath, id))
          throw new IllegalStateException(
            s"streaming replay of v=$id would overwrite a BATCH-DML (CAS) commit: the " +
              s"store's version line at $storePath moved while the stream was down — " +
              "restart the stream from a fresh checkpoint (its next batch id must " +
              "exceed the newest committed version), or stop issuing concurrent DML")
      } else purgeWriterDirs(spark, storePath, id)
    }
    if (morCommit && parent.isDefined)
      return morDeltaCommit(batch, keys, orderCols, opCol, storePath, nBuckets, id,
        writerId, target, targetMeta, parent.get, parentEntries, parentMeta.get, morMaxDepth,
        casCommit)
    // the delta's bucket set — bounded by nBuckets (config, not data).
    // Also the CAS conflict-detection unit: a racing writer whose own
    // touched set is disjoint from this one can rebase past us.
    val touchedBuckets: Set[Int] = parent match {
      case None => (0 until nBuckets).toSet // first batch materializes everything
      case Some(_) => batch
        .select(bucketExpr(keys, nBuckets).as("_bucket")).distinct()
        .as[Int].collect().toSet
    }
    val (prior, carried) = parent match {
      case None =>
        // first batch: materialize the full seed — every bucket is "touched"
        (conformTo(seed, target), Map.empty[Int, BucketEntry])
      case Some(v) =>
        val touchedEntries = touchedBuckets.toSeq.sorted
          .flatMap(p => parentEntries.get(p).map(p -> _))
        // RESOLVED read: a parent bucket with pending merge-on-read
        // deltas folds before this batch merges into it, so a
        // copy-on-write batch (or compaction) over a delta'd parent is
        // byte-equivalent to the all-CoW history
        val touchedSnap =
          if (touchedEntries.isEmpty) conformTo(seed.limit(0), target)
          else conformTo(readResolvedBuckets(spark, storePath, v, parentMeta.get,
            touchedEntries), target)
        (touchedSnap, parentEntries.view.filterKeys(p => !touchedBuckets.contains(p)).toMap)
    }
    // Stale-attempt hygiene: an EARLIER run of this same id (fresh
    // checkpoint over a reused store path, or regenerated source data)
    // may have left _writer=<id> dirs in buckets THIS attempt will not
    // write; dynamic overwrite never clears combos absent from the
    // current frame, and listWrittenBuckets would commit them into the
    // manifest as live data. Delete every pre-existing _writer=<id> dir
    // first so the post-write listing reflects exactly this attempt —
    // but ONLY when v=id never committed: once the manifest references
    // _writer=id dirs as live data, purging them would leave the store's
    // newest committed version unreadable in the purge-to-rewrite window
    // (and permanently, under a crash mid-rewrite). A committed id's
    // replay rewrites identical content via dynamic overwrite anyway, so
    // the purge is only for genuinely uncommitted stale attempts.
    // (MIXED-MODE GUARD + purge ran above, before the mor dispatch: the
    // streaming path may only overwrite v=id as a REPLAY of its own
    // earlier commit — a CAS commit at this slot is provable on disk
    // ([[isCasCommit]]) and refuses loudly; a
    // never-committed id's stale `_writer=<id>` dirs are purged so
    // listWrittenBuckets reflects exactly this attempt.)
    // ONE pass over delta + touched buckets; dynamic partition overwrite
    // clears exactly the (bucket, writer=id) combos this frame contains —
    // idempotent under replay, invisible to every other bucket.
    // KEY-SORTED within each output file (a per-partition sort, no extra
    // shuffle; the (_bucket,_writer) prefix also satisfies the partition
    // writer's required ordering, so Spark adds no unstable sort of its
    // own): sorted files carry TIGHT per-row-group key statistics, which
    // is what lets point reads skip row groups inside a bucket — the
    // sub-bucket half of the lookup story (parquet stats pushdown in
    // sources/cdc/CdcScan and Spark's own parquet IN pushdown).
    val merged = upsert(prior, batch, keys, orderCols, opCol)
      .withColumn("_bucket", bucketExpr(keys, nBuckets))
      .withColumn("_writer", lit(writerId))
      .sortWithinPartitions(("_bucket" +: "_writer" +: keys).map(col): _*)
    // files spell PHYSICAL names (≠ logical only after a rename); the
    // projection keeps _bucket/_writer untouched, so the writer's
    // required ordering — and the per-file key sort — survive it
    val toWrite =
      if (target.fieldNames.forall(n => targetMeta.phys(n) == n)) merged
      else merged.select((target.fields.map(f =>
        col(f.name).as(targetMeta.phys(f.name))) :+ col("_bucket") :+ col("_writer"))
        .toIndexedSeq: _*)
    // r22 (guide §1.2 "don't compute things you throw away", §6 commit
    // IO): the commit used to READ BACK every file it had just written
    // for the ANALYZE-on-write pass — a second full pass over the touched
    // buckets, doubling commit read IO at any scale. The merged frame is
    // eagerly checkpointed instead: the write job AND the stats pass
    // both read the cached blocks, and the freshly-written files are
    // never re-opened. Recorded stats are identical by construction (the
    // frame IS the files' content, and count/min/max/null-count/HLL-ndv
    // are all order- and partitioning-independent); the checkpoint keeps
    // the plan's (bucket, writer, keys) ordering, so the partition writer
    // still adds no sort and files stay key-sorted. Only BACKFILL of
    // carried pre-migration buckets still reads its (old, not-rewritten)
    // files below — content the frame cannot know.
    val toWriteCk = toWrite.localCheckpoint(true)
    val toWriteRdd = toWriteCk.queryExecution.analyzed
      .collectFirst { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
    try {
    toWriteCk
      .write
      .partitionBy("_bucket", "_writer")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(partsPath(storePath))
    // which touched buckets ended NON-empty: filesystem metadata (dynamic
    // overwrite only creates dirs for non-empty combos) — no second data
    // pass, no cache. A bucket the batch fully emptied simply drops out.
    val written = listWrittenBuckets(spark, storePath, writerId)
    // per-bucket ROW COUNTS and per-column STATISTICS ride the manifest:
    // ANALYZE-on-write over exactly the rows this commit wrote (plus a
    // one-time backfill of carried buckets whose manifests predate stat
    // recording), so the scan's estimateStatistics serves the CBO
    // numRows, key NDV, and column min/max/nullCount/NDV — store-table
    // joins and filters cost like ANALYZEd warehouse tables
    val statsOn = statsCollectionOn(target)
    def dirOf(p: Int, w: Long) = bucketDir(storePath, p, w)
    // backfill only CLEAN NATIVE carried buckets: a delta'd bucket's
    // resolved rows/stats are unknowable without the fold, and a lazily-
    // split child's without the slice — recording the stale/parent
    // numbers would misstate the table
    val backfill: Map[Int, Long] = carried.collect {
      case (p, e) if e.deltas.isEmpty && e.baseMod.isEmpty && e.base.isDefined &&
        (e.rows.isEmpty || (statsOn && e.stats.isEmpty)) => p -> e.base.get
    }
    // stats are recorded under PHYSICAL names: stable across renames,
    // so carried colstats stay valid forever; the scan translates
    val freshStats: Map[Int, (Long, Map[String, ColStatRec])] =
      bucketStatsAgg(toWriteCk, targetMeta.physicalSchema, statsOn)
        .view.filterKeys(written.contains).toMap
    val backfillStats: Map[Int, (Long, Map[String, ColStatRec])] =
      if (backfill.isEmpty) Map.empty
      else if (statsOn)
        bucketStatsScan(spark, storePath,
          backfill.toSeq.sortBy(_._1).map { case (p, w) => dirOf(p, w) },
          targetMeta.physicalSchema)
      else backfill.map { case (p, w) =>
        p -> (dirRowCount(spark, dirOf(p, w)), Map.empty[String, ColStatRec])
      }
    val scanned: Map[Int, (Long, Map[String, ColStatRec])] =
      freshStats ++ backfillStats // disjoint keys: written ∩ carried = ∅
    val carriedStats: Map[Int, BucketEntry] =
      carried.map { case (p, e) =>
        p -> (scanned.get(p) match {
          case Some((sr, ss)) => e.copy(rows = Some(sr), stats = ss)
          case None           => e
        })
      }
    val entries: Seq[(Int, BucketEntry)] =
      (carriedStats ++ written.map(p =>
        p -> BucketEntry(Some(writerId), Some(scanned(p)._1), scanned(p)._2)))
        .toSeq.sortBy(_._1)
    if (casCommit) {
      commitCas(spark, storePath, id, writerId, entries, targetMeta,
        touchedBuckets, parentEntries, parentMeta)
    } else {
      commitNonCas(spark, storePath, id, entries, targetMeta)
      id
    }
    } finally toWriteRdd.foreach(_.unpersist(blocking = false))
  }

  /** The streaming/replay manifest commit: stage-then-RENAME, like the
    * CAS path, never a long-lived in-place overwrite. Why it matters: an
    * in-place `mode("overwrite")` write would (a) expose a marker-less
    * in-progress `v=<id>` dir for the whole job — indistinguishable from
    * a torn attempt, so a concurrent CAS writer's torn-dir heal could
    * delete it mid-job and interleave — and (b) DELETE a version a
    * concurrent batch-DML statement committed at the same id between the
    * epoch-start guard and this write, silently destroying an
    * acknowledged commit. Staging + rename shrinks the exposure to the
    * atomic point: the commit-time re-check refuses a CAS-committed
    * occupant loudly, a replay deletes only its OWN previous commit, and
    * a rename that did not land AS the manifest (a racer recreated the
    * dir) throws — Spark fails the epoch and the replay re-resolves. The
    * version's metadata rides INSIDE the staged dir, so the one rename
    * commits manifest and metadata together. */
  private def commitNonCas(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      id: Long,
      entries: Seq[(Int, BucketEntry)],
      meta: StoreMeta): Unit = {
    val stagingName = s"_attempt_v=$id"
    val staging = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/$stagingName")
    val dst = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$id")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeManifestParquet(spark, staging, entries)
    require(fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")),
      "manifest commit requires the _SUCCESS visibility marker " +
        s"(written by writeManifestParquet): staged manifest $staging has none")
    writeUtf8(fs, new org.apache.hadoop.fs.Path(staging, MetaFile), metaLine(meta))
    val dstSuccess = new org.apache.hadoop.fs.Path(dst, "_SUCCESS")
    if (fs.exists(dst)) {
      // commit-point re-check of the mixed-mode guard: the epoch-start
      // check ran before the (possibly long) merge job; a batch-DML
      // statement may have committed this id since — never delete it.
      if (isCasCommit(spark, storePath, id)) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"streaming commit of v=$id would overwrite a BATCH-DML (CAS) commit that " +
            s"landed mid-epoch at $storePath — the epoch will replay and re-resolve " +
            "past the moved version line")
      }
      // our own replay's previous commit (or a torn attempt): replace it
      fs.delete(dst, true)
    }
    val renamed =
      try !fs.exists(dst) && fs.rename(staging, dst)
      catch { case _: java.io.IOException => false }
    val landed = renamed && fs.exists(dstSuccess) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dst, stagingName))
    if (!landed) {
      val nested = new org.apache.hadoop.fs.Path(dst, stagingName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (fs.exists(staging)) fs.delete(staging, true)
      throw new IllegalStateException(
        s"streaming commit of v=$id lost a race at $storePath (another writer " +
          "recreated the version dir between the replace and the rename) — the epoch " +
          "will replay and re-resolve")
    }
    maybeCheckpointHistory(spark, storePath, id)
  }

  /** The merge-on-read DELTA COMMIT body of [[processPartitionedBatch]]:
    * fold the batch to its per-key survivors (same window/rank as
    * [[upsert]] — the delta is compacted at write, one row per key),
    * write them as per-bucket delta files under a unique writer token,
    * and commit a manifest whose touched entries APPEND that writer to
    * the bucket's delta list — the parent's data files are never opened.
    * A delete of an absent key stays a no-op by construction: its `D`
    * survivor tombstones nothing at fold time and is dropped.
    *
    * DEPTH-BOUNDED AUTO-COMPACTION (`morMaxDepth`): a touched bucket
    * already carrying `morMaxDepth` pending delta levels is folded and
    * REWRITTEN inline (base + deltas + this batch, one fresh base,
    * empty delta list) instead of appending — so read-side fold depth
    * is bounded BY CONSTRUCTION even when no one ever runs
    * [[compactStore]]: every morMaxDepth-th DML on a hot bucket pays
    * that one bucket's rewrite, amortizing compaction into the write
    * stream. Cold buckets touched by the same statement still take the
    * O(delta) delta path. */
  private def morDeltaCommit(
      batch: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      opCol: Column,
      storePath: String,
      nBuckets: Int,
      id: Long,
      writerId: Long,
      target: org.apache.spark.sql.types.StructType,
      targetMeta: StoreMeta,
      parentV: Long,
      parentEntries: Map[Int, BucketEntry],
      parentMeta: StoreMeta,
      morMaxDepth: Int,
      casCommit: Boolean): Long = {
    require(morMaxDepth >= 1, "morMaxDepth >= 1")
    val spark = batch.sparkSession
    import spark.implicits._
    val missing = target.fieldNames.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"changelog lacks payload columns: ${missing.mkString(",")}")
    val physKeys = keys.map(targetMeta.phys)
    // the batch's bucket set costs a Spark job, and only a parent bucket
    // already at the depth cap can make `deep` non-empty; otherwise the
    // write's own listing below is the touched set
    val batchBuckets: Option[Set[Int]] =
      if (!parentEntries.valuesIterator.exists(_.deltas.length >= morMaxDepth)) None
      else Some(batch.select(bucketExpr(keys, nBuckets).as("_b")).distinct()
        .as[Int].collect().toSet)
    val deep: Set[Int] = batchBuckets.getOrElse(Set.empty).filter(p =>
      parentEntries.get(p).exists(_.deltas.length >= morMaxDepth))
    def layout(df: DataFrame): DataFrame = df
      .withColumn("_bucket", bucketExpr(physKeys, nBuckets))
      .withColumn("_writer", lit(writerId))
      // KEY-SORTED like base files: delta point reads skip row groups too
      .sortWithinPartitions(("_bucket" +: "_writer" +: physKeys).map(col): _*)
    def writeParts(df: DataFrame): Unit = df.write
      .partitionBy("_bucket", "_writer")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(partsPath(storePath))
    // DELTA path: shallow buckets' per-key survivors + tombstone marker,
    // spelled in PHYSICAL names like every base file
    val shallowBatch =
      if (deep.isEmpty) batch
      else batch.filter(!bucketExpr(keys, nBuckets).isin(deep.toSeq: _*))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    writeParts(layout(shallowBatch
      .withColumn("__op", upper(opCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      // in the store's recorded types: a coercible changelog type (DECIMAL
      // for a DOUBLE column) must not land delta files of another type
      .select(target.fields.map(f =>
        col(f.name).cast(f.dataType).as(targetMeta.phys(f.name))).toIndexedSeq
        :+ when(col("__op") === "D", lit("D")).otherwise(lit("U")).as(DeltaOpCol): _*)))
    // AUTO-COMPACT path: depth-capped buckets fold (parent base+deltas)
    // and MERGE this batch's slice — one fresh base per deep bucket.
    // r22: checkpointed like every commit write, so the fresh bases'
    // ANALYZE stats come from the in-memory frame instead of re-reading
    // the files just written (see [[bucketStatsAgg]]).
    val deepCk: Option[DataFrame] =
      if (deep.isEmpty) None
      else {
        val deepEntries = deep.toSeq.sorted.flatMap(p => parentEntries.get(p).map(p -> _))
        val prior = conformTo(
          readResolvedBuckets(spark, storePath, parentV, parentMeta, deepEntries), target)
        val deepBatch = batch.filter(bucketExpr(keys, nBuckets).isin(deep.toSeq: _*))
        val merged = upsert(prior, deepBatch, keys, orderCols, opCol)
        val cp = layout(
          merged.select(target.fields.map(f =>
            col(f.name).cast(f.dataType).as(targetMeta.phys(f.name))).toIndexedSeq: _*))
          .localCheckpoint(true)
        writeParts(cp)
        Some(cp)
      }
    try {
    val written = listWrittenBuckets(spark, storePath, writerId)
    // exact without deep buckets: every key's survivor row, tombstones
    // included, lands in its bucket
    val touched = batchBuckets.getOrElse(written)
    // fresh bases record rows (+ stats when enabled), same as CoW commits
    val statsOn = statsCollectionOn(target)
    val writtenDeep = (written intersect deep).toSeq.sorted
    val deepScanned: Map[Int, (Long, Map[String, ColStatRec])] =
      deepCk match {
        case None => Map.empty
        case Some(cp) => bucketStatsAgg(cp, targetMeta.physicalSchema, statsOn)
          .view.filterKeys(writtenDeep.contains).toMap
      }
    val entries: Seq[(Int, BucketEntry)] =
      (parentEntries.view.filterKeys(p => !written.contains(p) && !deep.contains(p)).toMap ++
        (written -- deep).iterator.map { p =>
          val pe = parentEntries.get(p)
          // a lazily-split child keeps its parent-file reference (baseMod)
          // while delta writers stack at ITS coordinate
          p -> BucketEntry(pe.flatMap(_.base), rows = None, stats = Map.empty,
            deltas = pe.map(_.deltas).getOrElse(Nil) :+ writerId,
            baseMod = pe.flatMap(_.baseMod))
        } ++
        writtenDeep.iterator.map(p =>
          p -> BucketEntry(Some(writerId), Some(deepScanned(p)._1), deepScanned(p)._2)))
        .toSeq.sortBy(_._1)
    if (casCommit)
      commitCas(spark, storePath, id, writerId, entries, targetMeta,
        touched = touched, parentEntries = parentEntries, parentMeta = Some(parentMeta))
    else {
      // streaming epoch: writerId == id (deterministic), commit via the
      // same stage-and-rename every streaming epoch uses — a replay
      // recomputes the identical delta files and manifest
      commitNonCas(spark, storePath, id, entries, targetMeta)
      id
    }
    } finally deepCk.foreach(cp => cp.queryExecution.analyzed
      .collectFirst { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false)))
  }

  /** METADATA-ONLY schema commits (the column-mapping half of Delta
    * parity): RENAME and DROP mint a new store version whose manifest
    * carries every bucket BY REFERENCE from the parent — no data file is
    * opened, read, or rewritten; the only change is the version's schema
    * metadata. Both commit through the same CAS rename as batch DML, so
    * they are safe against concurrent writers (loser throws retryable).
    *
    *  - RENAME keeps the column's PHYSICAL name (what the files spell)
    *    and changes only the logical name every reader serves — old
    *    files decode under the new name with zero rewrite.
    *  - DROP removes the logical column and RETIRES its physical name;
    *    re-adding the same logical name later mints a fresh physical, so
    *    the dropped data never resurrects out of carried files.
    *
    * CDF caveat (same restriction Delta imposes): feed versions
    * materialized BEFORE a mapping change carry the old column names —
    * change feeds do not span rename/drop boundaries; bootstrap new
    * consumers from the snapshot instead. Merge keys may be renamed, but
    * every maintenance caller and catalog registration must switch to
    * the new name with the commit (the layout hash is over VALUES, so
    * bucketing is unaffected). */
  def renameColumn(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      from: String,
      to: String): Long = retryMetadataConflicts {
    val (parentV, meta, parentEntries, _) = servingState(spark, storePath)
    require(meta.schema.fieldNames.contains(from), s"no column $from in ${meta.schema.toDDL}")
    require(!meta.schema.fieldNames.contains(to),
      s"column $to already exists — renames cannot merge columns")
    val renamed = org.apache.spark.sql.types.StructType(
      meta.schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    val phys = meta.phys(from)
    // a renamed merge key stays the key under its new logical name (the
    // layout hash is over VALUES); the recorded keys follow the rename
    val newKeys = meta.keys.map(k => if (k == from) to else k)
    commitMetadataOnly(spark, storePath, parentV, parentEntries, meta,
      meta.copy(schema = renamed, keys = newKeys,
        mapping = meta.mapping - from ++ (if (phys == to) Nil else Seq(to -> phys)),
        mapChangeV = Some(parentV + 1)))
  }

  /** See [[renameColumn]] — ADD COLUMN as a METADATA-ONLY commit: the
    * schema widens by one NULLABLE column, every bucket is carried by
    * reference, and carried files serve NULL for the new column (the
    * recorded-schema read's additive contract, same as the maintenance
    * API's `payloadCols` evolution — this is the type-source-free
    * spelling: the DDL carries the type, so no batch is needed). A
    * re-added logical name whose physical spelling was EVER used (a
    * dropped column's retired physical, a rename's original) mints a
    * fresh suffixed physical name, so dropped data never resurrects out
    * of carried files. No CDF boundary: old feed versions simply lack
    * the column and merge as NULL. */
  def addColumn(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = retryMetadataConflicts {
    val (parentV, meta, parentEntries, _) = servingState(spark, storePath)
    require(!meta.schema.fieldNames.contains(name),
      s"column $name already exists in ${meta.schema.toDDL}")
    require(name != DeltaOpCol && name != "_bucket" && name != "_writer",
      s"$name is a reserved layout column name")
    val phys = mintPhysical(meta.usedPhysical, name)
    commitMetadataOnly(spark, storePath, parentV, parentEntries, meta,
      meta.copy(
        schema = org.apache.spark.sql.types.StructType(meta.schema.fields :+
          org.apache.spark.sql.types.StructField(name, dataType, nullable = true)),
        mapping = meta.mapping ++ (if (phys == name) Nil else Seq(name -> phys))))
  }

  /** TYPE-WIDENING evolution — INT→BIGINT / FLOAT→DOUBLE as a
    * METADATA-ONLY commit (the Iceberg/Delta type-promotion contract):
    * the recorded schema re-types the column, every bucket is carried by
    * reference, and carried files keep their NARROW physical type —
    * every read path requests the recorded (widened) schema and Spark's
    * parquet readers up-cast INT32→LONG / FLOAT→DOUBLE natively (both
    * the vectorized and row-converter paths — the CDC scans decode
    * through the vectorized one; the footer-stats fold up-casts
    * explicitly), so both eras
    * serve through one widened schema with zero rewrite. Exact: both
    * promotions are value-preserving embeddings.
    *
    * Refusals, all loud: non-widening changes (narrowing, string↔number,
    * anything else) are NOT metadata-expressible — carried files cannot
    * re-type; and MERGE KEYS never widen — the layout hash is TYPED
    * (xxhash64 hashes an int's 4 bytes, a long's 8), so widening a key
    * would silently re-home every row out of the buckets readers probe.
    * No CDF boundary: old feed versions' files up-cast on read exactly
    * like store files (array/struct type coercion widens the diff's two
    * sides to the common type). */
  def widenColumn(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Long = retryMetadataConflicts {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, IntegerType, LongType}
    val (parentV, meta, parentEntries, _) = servingState(spark, storePath)
    val f = meta.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name in ${meta.schema.toDDL}"))
    val widening = (f.dataType, to) match {
      case (IntegerType, LongType)  => true
      case (FloatType, DoubleType)  => true
      // DECIMAL(p,s) -> DECIMAL(p+k,s): the widening a revenue schema hits
      // first. Same scale is REQUIRED — a scale change rescales every
      // stored unscaled value, i.e. a rewrite, not metadata; precision
      // growth is free (carried files keep their narrow physical class,
      // Spark's parquet readers up-cast on read).
      case (from: DecimalType, t: DecimalType) =>
        t.precision > from.precision && t.scale == from.scale
      case _                        => false
    }
    require(widening,
      s"only INT->BIGINT, FLOAT->DOUBLE, and DECIMAL(p,s)->DECIMAL(p+k,s) are " +
        s"metadata-only widenings: $name is ${f.dataType.simpleString} -> ${to.simpleString} " +
        "(other changes need a rewriting migration)")
    require(!meta.keys.contains(name),
      s"cannot widen merge key $name: the layout hash is typed — widening a key " +
        "would re-home every row")
    for (regKeys <- mergeKeyRegistry.get(storePath))
      require(!regKeys.contains(name),
        s"cannot widen $name: a catalog registration for $storePath names it as a merge key")
    commitMetadataOnly(spark, storePath, parentV, parentEntries, meta,
      meta.copy(schema = org.apache.spark.sql.types.StructType(
        meta.schema.fields.map(x => if (x.name == name) x.copy(dataType = to) else x))))
  }

  /** Expand a modulus-`fromMod` manifest to modulus `toMod` (a multiple):
    * parent bucket p's children are `{p + i·fromMod | i < toMod/fromMod}`
    * (rows never cross parent boundaries under `hash mod n`), each
    * carrying the parent's file references with `baseMod` marking the
    * files' true modulus, and rows/stats honestly cleared (a child's
    * slice is unknowable without reading). Used by [[splitBuckets]] to
    * mint the split commit and by the change-feed diff to normalize the
    * from-side across a split boundary — the SAME expansion, so a pure
    * split diffs as all-carried. Composes across repeated splits. */
  private def expandEntries(
      m: Map[Int, BucketEntry], fromMod: Int, toMod: Int): Map[Int, BucketEntry] =
    m.flatMap { case (p, e) =>
      (0 until toMod / fromMod).map { i =>
        (p + i * fromMod) -> e.copy(rows = None, stats = Map.empty,
          baseMod = Some(e.baseMod.getOrElse(fromMod)))
      }
    }

  /** BUCKET-COUNT EVOLUTION — the layout's last fixed scale ceiling: a
    * store created at n buckets grows to `n × factor` in ONE metadata-only
    * CAS commit, no data file opened. Under `hash mod n` layouts the
    * children of parent bucket p are exactly `{p, p+n, …, p+(factor−1)n}`
    * (rows never cross parent boundaries), so the split expands each
    * manifest entry into `factor` child entries that keep REFERENCING the
    * parent's files (`baseMod` = the files' modulus); readers slice a
    * parent's rows to each child with the layout hash, and every child is
    * rewritten NATIVELY on its next touch — a CoW batch, a deep-delta
    * fold, or [[compactStore]] (which treats lazily-split children as
    * dirty). Write amplification of the split itself: zero. Read
    * amplification until rewrite: a shared parent dir is read once per
    * serving sibling — bounded by `factor`, gone after compaction.
    *
    * Refuses stores with PENDING DELTAS (compact first): delta files
    * committed before a split would live at parent coordinates, and the
    * one-modulus-per-entry bookkeeping keeps delta dirs always at child
    * coordinates — an invariant worth a loud refusal, not extra state.
    * Row counts and column stats are honestly absent for split children
    * (count/stats pushdown pause, exactly like pending-delta buckets)
    * and return as children rewrite.
    *
    * Every maintenance caller and catalog registration must switch to the
    * new bucket count with the commit — the layout guards enforce it
    * (`CdcCatalog.split` updates live registrations in lockstep). Splits
    * compose: a twice-split store's children may reference grandparent
    * files; the slice filter is generation-independent. */
  def splitBuckets(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      factor: Int = 2): Long = retryMetadataConflicts {
    require(factor >= 2, "splitBuckets needs factor >= 2")
    val (parentV, meta, parentEntries, _) = servingState(spark, storePath)
    val oldN = meta.nBuckets
    val pendingDeltas = parentEntries.filter(_._2.deltas.nonEmpty).keys.toSeq.sorted
    require(pendingDeltas.isEmpty,
      s"splitBuckets refuses stores with pending merge-on-read deltas (buckets " +
        s"${pendingDeltas.take(8).mkString(",")}) — run compactStore first")
    val entries = expandEntries(parentEntries, oldN, oldN * factor).toSeq.sortBy(_._1)
    commitCas(spark, storePath, parentV + 1, mintCasToken(), entries,
      meta.copy(nBuckets = oldN * factor),
      touched = Set.empty, parentEntries = parentEntries, parentMeta = Some(meta),
      maxRebases = 0) // re-derive on conflict: the expansion is parent-shaped
  }

  /** See [[renameColumn]]. Refuses to drop a merge key — identity is the
    * one thing a keyed store cannot lose: the check covers the caller's
    * declared `keys`, the keys the store itself recorded at its last
    * commit, AND any live catalog registration for this path
    * ([[registerMergeKeys]]) — without the last one, dropping a
    * registered store's key would brick every subsequent catalog scan
    * with an unrelated schema error far from the cause. */
  def dropColumn(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      name: String,
      keys: Seq[String] = Nil): Long = retryMetadataConflicts {
    require(!keys.contains(name), s"cannot drop merge key $name")
    val (parentV, meta, parentEntries, _) = servingState(spark, storePath)
    require(!meta.keys.contains(name),
      s"cannot drop $name: the store records it as a merge key")
    for (regKeys <- mergeKeyRegistry.get(storePath))
      require(!regKeys.contains(name),
        s"cannot drop $name: a catalog registration for $storePath names it as a merge key")
    require(meta.schema.fieldNames.contains(name), s"no column $name in ${meta.schema.toDDL}")
    require(meta.schema.length > 1, "cannot drop the last column")
    commitMetadataOnly(spark, storePath, parentV, parentEntries, meta,
      meta.copy(
        schema = org.apache.spark.sql.types.StructType(meta.schema.fields.filterNot(_.name == name)),
        mapping = meta.mapping - name,
        retired = meta.retired :+ meta.phys(name),
        mapChangeV = Some(parentV + 1)))
  }

  /** Mint a fresh PHYSICAL column name for logical name `name`: the name
    * itself unless any physical spelling in `used` already claimed it (a
    * dropped column's retired physical, a rename's original) — then the
    * first free `name_<i>` suffix. ONE definition shared by the write
    * path's additive evolution and [[addColumn]], so the collision scheme
    * can never drift between them. */
  private def mintPhysical(used: Set[String], name: String): String =
    if (!used.contains(name)) name
    else {
      var i = 1
      while (used.contains(s"${name}_$i")) i += 1
      s"${name}_$i"
    }

  /** Rename/drop must NOT rebase inside commitCas: their metadata embeds
    * `mapChangeV` = the version the commit is MEANT to land at, and a
    * rebase past disjoint DML would stamp the change boundary at the
    * wrong version — feed versions materialized by the intervening DML
    * (pre-change column names) would read as post-change, exactly the
    * mis-clip the CDF boundary guard exists to refuse. Instead the whole
    * statement RE-DERIVES from the new latest version and retries,
    * bounded — equivalent cost (metadata-only), correct boundary. */
  private def retryMetadataConflicts[T](body: => T): T = {
    var left = MaxCasRebases
    while (true) {
      left -= 1
      try return body
      catch { case _: ConcurrentCdcWriteException if left > 0 => () }
    }
    throw new IllegalStateException("unreachable")
  }

  // live catalog registrations' merge keys per store path — the guard
  // [[dropColumn]] consults so a bare maintenance-API call cannot brick a
  // registered catalog table. Populated by CdcCatalog.register/unregister.
  private val mergeKeyRegistry =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  private[graft] def registerMergeKeys(storePath: String, keys: Seq[String]): Unit =
    mergeKeyRegistry.put(storePath, keys)
  private[graft] def mergeKeysFor(storePath: String): Option[Seq[String]] =
    mergeKeyRegistry.get(storePath)
  private[graft] def unregisterMergeKeys(storePath: String): Unit =
    mergeKeyRegistry.remove(storePath)

  /** Commit a new version identical to `parentV` except for its schema
    * metadata: parent manifest entries carried verbatim (rows, colstats
    * and delta lists included — colstats are keyed by PHYSICAL name,
    * which renames never change, and the fold's tombstone semantics are
    * name-free), CAS rename as the atomic point. Touched-bucket set is
    * EMPTY, so a racing disjoint DML writer rebases past this commit
    * (and vice versa) without conflict. */
  private def commitMetadataOnly(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      parentV: Long,
      parentEntries: Map[Int, BucketEntry],
      parentMeta: StoreMeta,
      newMeta: StoreMeta): Long = {
    val entries = parentEntries.toSeq
      .map { case (p, e) =>
        // backfill only CLEAN NATIVE entries (same rule as the CoW
        // commit's backfill): a lazily-split child's files live at the
        // PARENT coordinate and its slice has no standalone count —
        // dirRowCount at the child coordinate would record a false 0
        // that count/LIMIT pushdown would then trust
        val rows =
          if (e.rows.isDefined || e.deltas.nonEmpty || e.base.isEmpty ||
            e.baseMod.isDefined) e.rows
          else Some(dirRowCount(spark, bucketDir(storePath, p, e.base.get)))
        p -> e.copy(rows = rows)
      }.sortBy(_._1)
    commitCas(spark, storePath, parentV + 1, mintCasToken(), entries, newMeta,
      touched = Set.empty, parentEntries = parentEntries, parentMeta = Some(parentMeta),
      maxRebases = 0) // the caller re-derives on conflict (mapChangeV must match the id)
  }

  /** CAS writer tokens live above 2^62 so they can never collide with a
    * version id (versions are batch/epoch counters) — vacuum's
    * "committed writer" test and the replay purge both key off that
    * distinction. Random 62 low bits make concurrent attempts unique
    * without any coordination. */
  private def mintCasToken(): Long =
    (1L << 62) | (java.util.UUID.randomUUID().getLeastSignificantBits & ((1L << 62) - 1))

  /** Compare-and-swap manifest commit: stage the manifest parquet under a
    * token-unique `_attempt_w=<token>` dir (underscore-prefixed —
    * invisible to every manifest reader), with the version's metadata
    * file and the empty [[CasMarker]] provenance marker inside it (so
    * ONE atomic rename commits manifest, metadata and provenance
    * together), then rename onto `v=<id>`.
    *
    * Rename-as-CAS needs one extra verification on local filesystems:
    * HDFS `rename` atomically fails when the destination exists, but
    * `RawLocalFileSystem.rename` falls back to FileUtil.copy INTO an
    * existing destination directory (POSIX `mv` semantics — verified
    * against the shipped Hadoop 3.4.2 bytecode), returning true while
    * nesting the staging dir inside the winner's commit. So after the
    * rename we verify the commit landed AS the manifest — `_SUCCESS` at
    * the top level and no nested staging dir. On any conflict the loser
    * deletes its nested/staging dirs and its parts, and throws
    * [[ConcurrentCdcWriteException]]; the winner's commit is never
    * touched (the nested dir is underscore-invisible even in the window
    * before the loser's cleanup). */
  /** How many times a CAS loser may REBASE onto a disjoint winner before
    * giving up and throwing the retryable conflict. Bounds livelock under
    * pathological contention; each rebase is metadata-only (no data
    * rewrite), so the cap is generous. */
  private val MaxCasRebases = 5

  /** LOGICAL CONFLICT DETECTION (the Delta-style rebase): when the rename
    * loses, read the winner's committed manifest and metadata; if the
    * winner touched NO bucket this commit touched and changed NO schema
    * metadata (schema/mapping/retired all equal the parent's), this
    * commit's already-written part files are still exactly valid — re-aim
    * it at the next version id with entries = winner's manifest overlaid
    * with ours, and try the rename again. No data is rewritten; the loser
    * pays one manifest read per rebase. Overlapping buckets, schema
    * drift, or an unreadable winner fall through to the retryable throw
    * (the caller must re-apply against the new snapshot — write skew is
    * only safe to auto-resolve when the write sets are disjoint). */
  private def commitCas(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      id: Long,
      writerId: Long,
      entries: Seq[(Int, BucketEntry)],
      meta: StoreMeta,
      touched: Set[Int],
      parentEntries: Map[Int, BucketEntry],
      parentMeta: Option[StoreMeta],
      maxRebases: Int = MaxCasRebases): Long = {
    import spark.implicits._
    val stagingName = s"_attempt_w=$writerId"
    val staging = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/$stagingName")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // this commit's OWN entries at its touched buckets — stable across
    // rebases (the part files are already on disk and stay valid as long
    // as every winner we rebase past left those buckets alone)
    val ours: Map[Int, BucketEntry] = entries.toMap.view.filterKeys(touched.contains).toMap
    val metaLn = metaLine(meta)
    var curId = id
    var curEntries: Seq[(Int, BucketEntry)] = entries
    var curParent: Map[Int, BucketEntry] = parentEntries
    var rebases = 0
    def conflict(detail: String): Nothing = {
      if (fs.exists(staging)) fs.delete(staging, true)
      purgeWriterDirs(spark, storePath, writerId)
      throw new ConcurrentCdcWriteException(
        s"concurrent write to $storePath: $detail — re-read the latest version and retry")
    }
    while (true) {
      val dst = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$curId")
      writeManifestParquet(spark, staging, curEntries)
      // the commit protocol keys "committed" off the _SUCCESS marker the
      // rename carries along (writeManifestParquet stages it); a staged
      // dir without one would make every CAS commit invisible — and
      // worse, make a WINNING rename look lost (self-destruct). Refuse
      // up front, loudly.
      require(fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")),
        "CAS commit requires the _SUCCESS visibility marker " +
          s"(written by writeManifestParquet): staged manifest $staging has none")
      writeUtf8(fs, new org.apache.hadoop.fs.Path(staging, MetaFile), metaLn)
      writeUtf8(fs, new org.apache.hadoop.fs.Path(staging, CasMarker), "")
      // TORN-DIRECTORY HEAL: a v=<id> dir WITHOUT _SUCCESS is a crashed
      // non-CAS (streaming) attempt — invisible to committedVersions, so
      // without this purge every CAS retry would re-mint the same id,
      // find the dir occupied, and throw forever (permanent DML livelock
      // on one abandoned dir). Deleting it is exactly what the torn
      // attempt's own replay would do. Residual TOCTOU window (another
      // writer committing this id between the marker check and the
      // delete) is the same one every rename-based committer carries on
      // stores without atomic CAS primitives; the rename below still
      // decides a single winner.
      val dstSuccess = new org.apache.hadoop.fs.Path(dst, "_SUCCESS")
      if (fs.exists(dst) && !fs.exists(dstSuccess)) fs.delete(dst, true)
      val renamed =
        try !fs.exists(dst) && fs.rename(staging, dst)
        catch { case _: java.io.IOException => false }
      val landed = renamed && fs.exists(dstSuccess) &&
        !fs.exists(new org.apache.hadoop.fs.Path(dst, stagingName))
      if (landed) {
        maybeCheckpointHistory(spark, storePath, curId)
        return curId
      }
      // lost the race (or a copy-fallback nested us inside the winner):
      // remove the nested copy, never the winner's files
      val nested = new org.apache.hadoop.fs.Path(dst, stagingName)
      if (fs.exists(nested)) fs.delete(nested, true)
      rebases += 1
      if (rebases > maxRebases)
        conflict(s"v=$curId was committed by another writer and $maxRebases rebases " +
          "were exhausted")
      // rebase candidate: the winner now committed at curId
      val winner =
        try readManifestFull(spark, storePath, curId)
        catch { case scala.util.control.NonFatal(_) =>
          conflict(s"v=$curId was committed by another writer while this batch was " +
            "staging, and its manifest is not yet readable") }
      val winnerMeta =
        try Some(storedMeta(spark, storePath, curId))
        catch { case scala.util.control.NonFatal(_) => None }
      val metaUnchanged = (parentMeta, winnerMeta) match {
        case (Some(a), Some(b)) =>
          a.schema == b.schema && a.mapping == b.mapping && a.retired == b.retired &&
            // a LAYOUT change (splitBuckets, key re-record) re-addresses
            // every bucket: entries staged under the old modulus must
            // never overlay a new-modulus manifest
            a.nBuckets == b.nBuckets && a.keys == b.keys
        case _ => false // fresh store or unreadable metadata: no basis to rebase on
      }
      if (!metaUnchanged)
        conflict(s"v=$curId was committed by another writer that changed schema or " +
          "layout metadata")
      // overlap compares CONTENT identity (base + delta list + split
      // marker), never the recording detail: a winner that merely
      // BACKFILLED rows/colstats on a bucket it carried by reference left
      // its files untouched — same signature rule as changesBetween's
      // pruning
      def sig(e: Option[BucketEntry]): Option[(Option[Long], Seq[Long], Option[Int])] =
        e.map(x => (x.base, x.deltas, x.baseMod))
      val overlap = touched.filter(p => sig(winner.get(p)) != sig(curParent.get(p)))
      if (overlap.nonEmpty)
        conflict(s"v=$curId was committed by another writer that touched overlapping " +
          s"buckets ${overlap.toSeq.sorted.take(8).mkString(",")}")
      // disjoint: our part files are untouched truth — overlay and retry.
      // Buckets we touched but emptied must stay ABSENT (removedAll), or
      // the winner's carried entry would resurrect them.
      curEntries = ((winner -- touched) ++ ours).toSeq.sortBy(_._1)
      curParent = winner
      curId += 1
    }
    -1L // unreachable
  }

  /** The partition-scoped snapshot as of `version` (default: newest
    * committed). Reads only the bucket directories the manifest names;
    * buckets with pending merge-on-read deltas fold transparently
    * ([[readResolvedBuckets]] — the merge keys come from the version's
    * own recorded metadata, so the read needs no caller hints). Throws
    * if nothing is committed, or if every bucket has been deleted (an
    * empty store carries no schema to serve). */
  def readPartitionedSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      version: Option[Long] = None): DataFrame = {
    val (v, meta, manifest, _) = servingState(spark, storePath, version)
    readResolvedBuckets(spark, storePath, v, meta, manifest.toSeq.sortBy(_._1))
  }

  /** Committed manifest versions (the store's serving history). */
  def manifestVersions(
      spark: org.apache.spark.sql.SparkSession, storePath: String): Seq[Long] =
    committedVersions(spark, manifestPath(storePath))

  /** Commit wall-clock per version: the manifest `_SUCCESS` marker's
    * mtime — the atomic commit point's own filesystem timestamp, so
    * `TIMESTAMP AS OF` time travel needs no extra metadata write.
    * Millis since epoch, sorted by version. */
  def versionCommitTimes(
      spark: org.apache.spark.sql.SparkSession, storePath: String): Seq[(Long, Long)] =
    commitTimesFor(spark, storePath, manifestVersions(spark, storePath))

  // --- history checkpointing ------------------------------------------
  //
  // The $history table folds every committed version's manifest
  // (nBuckets × nVersions driver rows) — fine for hundreds of versions,
  // a real driver cost at a 100k-epoch streaming store. The Delta-style
  // fix: every K commits, roll the ALREADY-COMPUTED history rows up into
  // a checkpoint (manifest/_ckpt/v=<upTo>) together with the boundary
  // version's per-bucket content signature, so describeHistory reads ONE
  // checkpoint parquet plus the ≤K-version tail of fine-grained
  // manifests — O(1) manifest dirs per K commits instead of O(versions).
  // The boundary signature is what lets the first tail version compute
  // its touched-bucket diff without re-opening the checkpointed manifest.
  // Vacuumed versions are filtered out of the served rows (the history
  // table reports RETAINED history, same as before); checkpoint rows
  // keep the fidelity they were computed with — a post-vacuum recompute
  // would have to diff against the nearest retained parent instead of
  // the true one.

  /** One version's history row: (version, commit ts millis, bucket
    * census, touched buckets, recorded rows, delta'd buckets). */
  private case class HistRow(
      v: Long, ts: Long, buckets: Int, touched: Int, rows: Option[Long], deltaBuckets: Int)

  /** Per-bucket content signature (base writer, delta list, split
    * marker) — the identity `touched` diffs on (commitCas's sig rule). */
  private type BucketSig = (Long, Seq[Long], Option[Int])

  private def ckptRoot(storePath: String) = s"${manifestPath(storePath)}/_ckpt"

  /** Commit cadence for automatic history checkpoints (0 disables).
    * Session-settable: `spark.conf.set("graft.cdc.historyCheckpointInterval", n)`. */
  private def historyCkptEvery(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.cdc.historyCheckpointInterval").map(_.toInt).getOrElse(64)

  /** Write (or refresh) the history checkpoint at the newest committed
    * version: prior checkpoint rows + the tail's fold, plus the boundary
    * signature. Incremental — reads only the manifests SINCE the prior
    * checkpoint. Idempotent and loser-safe (temp dirs + a marker-file
    * commit point; racing writers produce identical content for the same
    * upTo). Old checkpoints are pruned after the new one lands. Returns
    * the checkpointed version, None on an empty store. */
  def checkpointHistory(
      spark: org.apache.spark.sql.SparkSession, storePath: String): Option[Long] = {
    import spark.implicits._
    val vs = manifestVersions(spark, storePath).sorted
    if (vs.isEmpty) return None
    val upTo = vs.max
    val prior = latestHistoryCkpt(spark, storePath)
    if (prior.exists(_._1 >= upTo)) return Some(upTo) // already current
    val priorUp = prior.map(_._1).getOrElse(Long.MinValue)
    val tail = vs.filter(_ > priorUp)
    val times = commitTimesFor(spark, storePath, tail).toMap
    // the prior boundary is only the first tail version's TRUE parent
    // when nothing between them was vacuumed — otherwise diff against
    // nothing (all-touched for the oldest retained), exactly what an
    // un-checkpointed store reports post-vacuum
    val priorBoundary: Map[Int, BucketSig] =
      if (tail.headOption.contains(priorUp + 1)) prior.map(_._3).getOrElse(Map.empty)
      else Map.empty
    val tailRows = historyRowsFor(spark, storePath, tail, priorBoundary, times)
    val allRows = prior.map(_._2).getOrElse(Seq.empty)
      .filter(r => r.v <= upTo && vs.contains(r.v)) ++ tailRows
    val boundary: Map[Int, BucketSig] = readManifestFull(spark, storePath, upTo)
      .map { case (p, e) => p -> ((e.base.getOrElse(-1L), e.deltas, e.baseMod)) }
    val root = new org.apache.hadoop.fs.Path(ckptRoot(storePath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage-then-rename: write the whole checkpoint (history + boundary +
    // marker) under a writer-unique temp dir and RENAME it onto v=<upTo>
    // — racing writers of the same upTo produce one winner (the loser's
    // rename fails against the existing dir and its temp is discarded),
    // never interleaved part files under one marker
    val tmp = new org.apache.hadoop.fs.Path(
      root, s".tmp_v=${upTo}_${java.util.UUID.randomUUID().toString.take(8)}")
    val dst = new org.apache.hadoop.fs.Path(root, s"v=$upTo")
    allRows.map(r => (r.v, r.ts, r.buckets, r.touched, r.rows, r.deltaBuckets))
      .toDF("v", "ts", "buckets", "touched", "rows", "delta_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/history")
    boundary.toSeq.map { case (p, (w, ds, bm)) => (p, w, ds, bm) }
      .toDF("_bucket", "_writer", "_deltas", "_basemod")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/boundary")
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_COMMITTED"), true).close()
    val renamed =
      try !fs.exists(dst) && fs.rename(tmp, dst)
      catch { case _: java.io.IOException => false }
    if (!renamed) fs.delete(tmp, true) // a racer won the same upTo: identical content
    // prune superseded checkpoints — ONE live checkpoint bounds metadata.
    // A concurrent reader that just resolved a pruned dir falls back to
    // the full manifest fold (latestHistoryCkpt's read is fail-soft).
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName.stripPrefix("v=")
      if (st.getPath.getName.startsWith("v=") && n.forall(_.isDigit) && n.toLong < upTo)
        fs.delete(st.getPath, true)
    }
    Some(upTo)
  }

  /** Auto-checkpoint hook, called from every manifest commit point: rolls
    * the history up when the minted version crosses the cadence. Failures
    * never fail the commit — a checkpoint is an accelerator, the
    * fine-grained manifests stay authoritative. */
  private def maybeCheckpointHistory(
      spark: org.apache.spark.sql.SparkSession, storePath: String, v: Long): Unit =
    // EVERYTHING inside the guard — including the conf parse: this hook
    // runs after the manifest already durably committed, so even a
    // malformed interval value must degrade to a warning, never surface
    // as a phantom commit failure on a store that actually advanced
    try {
      val every = historyCkptEvery(spark)
      if (every > 0 && v > 0 && v % every == 0) { checkpointHistory(spark, storePath); () }
    } catch { case scala.util.control.NonFatal(e) =>
      java.util.logging.Logger.getLogger(getClass.getName)
        .warning(s"history checkpoint at v=$v failed (serving unaffected): $e")
    }

  /** The newest committed checkpoint: (upTo, history rows, boundary
    * signature of upTo). None when no checkpoint has been written. */
  private def latestHistoryCkpt(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[(Long, Seq[HistRow], Map[Int, BucketSig])] = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(ckptRoot(storePath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val vs = fs.listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_COMMITTED")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
    if (vs.isEmpty) return None
    val upTo = vs.max
    val dir = s"${ckptRoot(storePath)}/v=$upTo"
    // FAIL-SOFT: a concurrent writer may prune this dir between the
    // listing and the read — the checkpoint is an accelerator, so the
    // caller falls back to the full manifest fold, never fails a pure
    // metadata query over a race it didn't enter
    try {
      val rows = spark.read.parquet(s"$dir/history")
        .select(col("v").cast("long"), col("ts").cast("long"), col("buckets").cast("int"),
          col("touched").cast("int"), col("rows").cast("long"),
          col("delta_buckets").cast("int"))
        .as[(Long, Long, Int, Int, Option[Long], Int)]
        .collect().toSeq.sortBy(_._1)
        .map { case (v, ts, b, t, r, d) => HistRow(v, ts, b, t, r, d) }
      val boundary = spark.read.parquet(s"$dir/boundary")
        .select(col("_bucket").cast("int"), col("_writer").cast("long"), col("_deltas"),
          col("_basemod").cast("int"))
        .as[(Int, Long, Seq[Long], Option[Int])]
        .collect()
        .map { case (p, w, ds, bm) => p -> ((w, ds, bm)) }.toMap
      Some((upTo, rows, boundary))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Commit wall-clock for a SPECIFIC version list — the tail-bounded
    * twin of [[versionCommitTimes]] (which stats every retained marker). */
  private def commitTimesFor(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String, vs: Seq[Long]): Seq[(Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(manifestPath(storePath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    vs.sorted.map { v =>
      val marker = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v/_SUCCESS")
      v -> fs.getFileStatus(marker).getModificationTime
    }
  }

  /** History rows for `vs` (sorted), diffing the FIRST version against
    * `boundarySig` (the checkpoint boundary, empty when none — the
    * oldest version then reports every bucket touched, the pre-ckpt
    * behavior). One partitioned manifest read over exactly `vs`. */
  private def historyRowsFor(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      vs: Seq[Long],
      boundarySig: Map[Int, BucketSig],
      times: Map[Long, Long]): Seq[HistRow] = {
    import spark.implicits._
    if (vs.isEmpty) return Seq.empty
    val mp = manifestPath(storePath)
    val raw0 = spark.read.option("basePath", mp).option("mergeSchema", "true")
      .parquet(vs.map(v => s"$mp/v=$v"): _*)
    val cols = raw0.columns.toSet
    val raw = {
      val r1 = if (cols("_rows")) raw0 else raw0.withColumn("_rows", lit(null).cast("long"))
      val r2 =
        if (cols("_deltas")) r1 else r1.withColumn("_deltas", typedLit(Seq.empty[Long]))
      if (cols("_basemod")) r2 else r2.withColumn("_basemod", lit(null).cast("int"))
    }
    val entries: Array[(Long, Int, BucketSig, Option[Long])] = raw
      .select(col("v").cast("long"), col("_bucket").cast("int"),
        col("_writer").cast("long"),
        coalesce(col("_deltas"), typedLit(Seq.empty[Long])).as("_deltas"),
        col("_basemod").cast("int"),
        col("_rows").cast("long"))
      .as[(Long, Int, Long, Seq[Long], Option[Int], Option[Long])]
      .collect()
      .map { case (v, p, w, ds, bm, r) => (v, p, (w, ds, bm), r) }
    val byV: Map[Long, Array[(Int, BucketSig, Option[Long])]] =
      entries.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3, e._4))).toMap
    val sorted = vs.sorted
    sorted.zipWithIndex.map { case (v, i) =>
      val m = byV.getOrElse(v, Array.empty)
      val parent: Map[Int, BucketSig] =
        if (i == 0) boundarySig
        else byV.getOrElse(sorted(i - 1), Array.empty).map(e => e._1 -> e._2).toMap
      // "touched" = the entry's FILES changed vs the parent version. A
      // lazily-split child compares against the parent-version entry at
      // its PHYSICAL coordinate (p mod baseMod) when its own id is new —
      // so a metadata-only split reports touched=0 (nothing rewrote),
      // while any real rewrite (fresh writer id) or delta append counts.
      val touched = m.count { case (p, (w, ds, bm), _) =>
        val parentSig = parent.get(p).map(e => (e._1, e._2))
          .orElse(bm.flatMap(b => parent.get(p % b).map(e => (e._1, e._2))))
        !parentSig.contains((w, ds))
      }
      val rows: Option[Long] =
        if (m.isEmpty) Some(0L) // a committed-but-empty version serves 0 rows
        else if (m.forall(_._3.isDefined)) Some(m.iterator.map(_._3.get).sum)
        else None // a bucket with pending deltas honestly has no count
      HistRow(v, times(v), m.length, touched, rows, m.count(_._2._2.nonEmpty))
    }
  }

  /** POINT LOOKUP against the partition-scoped store: serve the rows for
    * a bounded set of keys reading ONLY the buckets those keys hash to —
    * the O(|keys|/n · store) read path a keyed snapshot store owes its
    * callers (the serving twin of the maintenance side's touched-bucket
    * writes). `lookup` carries one row per wanted key (its bucket set is
    * driver-collected — bounded because point lookups are, by
    * definition); matching is a broadcast semi-join inside the pruned
    * scan. Equivalence and files-scanned laws in CdcSpec. */
  def lookupKeys(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keys: Seq[String],
      lookup: DataFrame,
      nBuckets: Int,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (v, meta, manifest, _) = servingState(spark, storePath, version)
    // a wrong layout hash wouldn't fail — it would silently MISS rows
    // (the keys' true buckets are never read)
    requireLayout(meta, storePath, keys, nBuckets)
    // ONE driver job over the (bounded, by point-lookup contract) key
    // panel: the distinct key tuples collect once (limit-capped so a
    // join-in-disguise lookup can't flood the driver); their buckets
    // derive DRIVER-SIDE through the same Catalyst XxHash64 the layout
    // hash compiles to, and the per-key value panels push BELOW the
    // merge-on-read fold — base and delta reads of dirty buckets filter
    // on the keys BEFORE the window, so a point read over a delta'd
    // store costs the key slice of its bucket (row-group stats over
    // key-sorted files), never the whole dirty set. The per-key
    // conjunction is a SUPERSET of the wanted tuples (safe under the
    // fold: key predicates drop every level of a key together); the
    // broadcast semi-join below restores tuple exactness.
    val keyed = lookup.select(keys.map(col): _*)
    val panelRows = keyed.distinct().limit(graft.sources.cdc.CdcScan.MaxInPanel + 1).collect()
    val bounded = panelRows.length <= graft.sources.cdc.CdcScan.MaxInPanel
    val keyTypes = keyed.schema.fields.map(_.dataType).toSeq
    val wantedBuckets: Set[Int] =
      if (bounded)
        panelRows.iterator.map(r =>
          bucketOfLiterals(keyTypes.indices.map(r.get).zip(keyTypes), nBuckets)).toSet
      else // over the cap: bounded distributed bucket collect, no panel
        lookup.select(bucketExpr(keys, nBuckets).as("_b")).distinct().as[Int].collect().toSet
    val entries = manifest.toSeq.filter { case (p, _) => wantedBuckets.contains(p) }.sortBy(_._1)
    if (entries.isEmpty)
      return readResolvedBuckets(spark, storePath, v, meta, manifest.toSeq.sortBy(_._1))
        .limit(0).filter(lit(false))
    val keyPanel: Option[Column] =
      if (!bounded) None // a huge panel is a join, not a point lookup
      else Some(keys.zipWithIndex.map { case (k, i) =>
        val vs = panelRows.iterator.map(_.get(i)).filter(_ != null).toArray[Any].distinct
        if (vs.isEmpty) lit(false) else col(k).isin(vs.toIndexedSeq: _*)
      }.reduce(_ && _))
    readResolvedBuckets(spark, storePath, v, meta, entries, keyPanel)
      .join(broadcast(lookup.select(keys.map(col): _*).distinct()), keys, "left_semi")
  }

  /** CHANGE FEED between two committed versions of the partition-scoped
    * store (Delta CDF / Iceberg changelog shape): every key whose row
    * differs between `fromV` and `toV`, classified `I` (absent → present),
    * `U` (present both, payload changed), or `D` (present → absent), with
    * the row emitted as it stands at `toV` for I/U and at `fromV` for D.
    *
    * The 100 TB argument is the MANIFEST DIFF: a bucket whose (bucket →
    * writer) entry is identical in both manifests was carried by
    * reference through every intermediate batch — its files are the same
    * files, so it is pruned WITHOUT OPENING THEM. Only buckets the
    * interval actually rewrote are read and full-outer-joined on the
    * merge key (bucket-local work, keyed shuffle). A day's change feed
    * over a TB store therefore costs IO proportional to what the day
    * touched, exactly like the maintenance writes themselves.
    *
    * Round-trip law (CdcSpec): upserting this feed (ordered after
    * `fromV`'s data) into snapshot `fromV` reproduces snapshot `toV`.
    *
    * Merge keys are non-null by the store's contract (they are hashed
    * for bucketing); presence on each side of the diff is detected via
    * key nullability after the full-outer join, so a null key stored in
    * violation of that contract would misclassify — same precondition as
    * [[upsert]]'s determinism note on `orderCols`. */
  def changesBetween(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      fromV: Long,
      toV: Long,
      keys: Seq[String]): DataFrame =
    diffJoined(spark, storePath, fromV, toV, keys) match {
      case Left(emptySchema) =>
        emptySchema.withColumn("_change_type", lit("")).filter(lit(false))
      case Right((joined, cols)) =>
        joined.select(cols.map(c =>
          when(col("_change_type") === "D", col(s"__b_$c")).otherwise(col(s"__a_$c")).as(c))
          :+ col("_change_type"): _*)
    }

  /** CDF-COMPLETE change feed (the exact Delta Lake Change Data Feed row
    * shape): like [[changesBetween]] but an update emits TWO rows —
    * `update_preimage` (the row as it stood at `fromV`) and
    * `update_postimage` (as at `toV`) — alongside `insert` and `delete`;
    * `_commit_version` stamps every row with `toV`. Both sides of an
    * update are already on hand after the manifest-diff-pruned full-outer
    * join, so completeness is a projection change, not extra IO.
    *
    * Why it matters: pre-images are what make the feed RETRACT-COMPLETE —
    * [[cdfToZset]] turns it into Z-set deltas (insert/postimage = +1,
    * delete/preimage = −1) that maintain any [[Ivm]] view downstream with
    * no snapshot re-read, even when an update MOVES a row between groups
    * (the old group must lose the old payload, which only the pre-image
    * carries). Law in CdcSpec/StreamingSpec: the feed-driven view equals
    * the recompute over the served snapshot at every version. */
  def changesBetweenCdf(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      fromV: Long,
      toV: Long,
      keys: Seq[String]): DataFrame =
    diffJoined(spark, storePath, fromV, toV, keys) match {
      case Left(emptySchema) =>
        emptySchema
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(0L))
          .filter(lit(false))
      case Right((joined, cols)) =>
        def side(prefix: String, tpe: Column) =
          struct(cols.map(c => col(s"${prefix}_$c").as(c)) :+ tpe.as("_change_type"): _*)
        joined
          .select(explode(when(col("_change_type") === "U",
              array(side("__b", lit("update_preimage")), side("__a", lit("update_postimage"))))
            .when(col("_change_type") === "I", array(side("__a", lit("insert"))))
            .otherwise(array(side("__b", lit("delete"))))).as("__r"))
          .select(cols.map(c => col(s"__r.$c")) :+ col("__r._change_type").as("_change_type"): _*)
          .withColumn("_commit_version", lit(toV))
    }

  /** Bridge a CDF-complete feed ([[changesBetweenCdf]] rows) to the Z-set
    * changelog [[Ivm.aggDelta]] consumes: `_op` = +1 for
    * insert/update_postimage, −1 for delete/update_preimage. */
  def cdfToZset(feed: DataFrame): DataFrame =
    feed.withColumn("_op",
      when(col("_change_type").isin("insert", "update_postimage"), lit(1))
        .when(col("_change_type").isin("delete", "update_preimage"), lit(-1))
        .otherwise(raise_error(concat(lit("not a CDF-complete feed row: "), col("_change_type")))))

  /** The manifest-diff-pruned full-outer join both feed shapes project
    * from: Left(empty template) when no bucket changed between the
    * versions, Right(joined rows with `__b_`/`__a_` sides and a non-null
    * coarse `_change_type` ∈ {I, U, D}, plus the payload column list). */
  private def diffJoined(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      fromV: Long,
      toV: Long,
      keys: Seq[String]): Either[DataFrame, (DataFrame, Seq[String])] = {
    val vs = manifestVersions(spark, storePath).toSet
    require(vs.contains(fromV) && vs.contains(toV),
      s"both versions must be committed under $storePath (have ${vs.toSeq.sorted.mkString(",")})")
    val m1raw = readManifestFull(spark, storePath, fromV)
    val m2 = readManifestFull(spark, storePath, toV)
    // BUCKET-SPLIT normalization: when the interval crosses a split, the
    // from-side manifest is expanded to the to-side's modulus — the exact
    // expansion the split commit itself performs, so a pure split diffs
    // as all-carried (empty feed) and only genuinely rewritten children
    // read. From-versions with pending deltas refuse (their delta dirs
    // live at pre-split coordinates the child-entry bookkeeping cannot
    // address): compact, or bootstrap from snapshots.
    val toMeta = storedMeta(spark, storePath, toV)
    val mod1 = storedMeta(spark, storePath, fromV).nBuckets
    val mod2 = toMeta.nBuckets
    val m1 =
      if (mod1 == mod2) m1raw
      else {
        require(mod2 > mod1 && mod2 % mod1 == 0,
          s"cannot diff across incompatible layouts of $storePath (mod $mod1 -> mod $mod2)")
        require(m1raw.values.forall(_.deltas.isEmpty),
          s"change feeds across a bucket split need a delta-free from-version " +
            s"(v=$fromV has pending merge-on-read deltas) — compact first, or " +
            "bootstrap from snapshots")
        expandEntries(m1raw, mod1, mod2)
      }
    // identical (base, deltas, split marker) entry ⇒ identical FILES
    // (carried by reference) ⇒ zero diff, zero IO. rows/stats are
    // recording detail, not content identity — compare the file
    // references only, or a stats backfill would make every bucket look
    // "changed".
    def sig(e: BucketEntry): (Option[Long], Seq[Long], Option[Int]) =
      (e.base, e.deltas, e.baseMod)
    val changed = (m1.keySet ++ m2.keySet)
      .filter(p => m1.get(p).map(sig) != m2.get(p).map(sig)).toSeq.sorted
    // BOTH sides read under toV's recorded schema: evolution is additive,
    // so toV's schema is a superset of fromV's and the fromV files fill
    // the later columns with NULL — pre-images of rows that predate an
    // added column report it as absent, which is exactly what they were.
    // Merge-on-read buckets RESOLVE (fold) per side, so the diff compares
    // logical content, never raw delta files.
    def slice(manifest: Map[Int, BucketEntry]): Option[DataFrame] = {
      val entries = changed.flatMap(p => manifest.get(p).map(p -> _))
      if (entries.isEmpty) None
      else Some(readResolvedBuckets(spark, storePath, toV, toMeta, entries))
    }
    // schema source for empty sides: whichever side has data; if NEITHER
    // version stores any row in a changed bucket the feed is empty — but
    // then nothing changed, so any committed bucket serves the schema
    val template = slice(m2).orElse(slice(m1)).getOrElse {
      return Left(readPartitionedSnapshot(spark, storePath, Some(toV)).limit(0))
    }
    val cols = template.columns.toSeq
    val payload = cols.filterNot(keys.contains)
    val before = slice(m1).getOrElse(template.limit(0))
      .select(cols.map(c => col(c).as(s"__b_$c")).toIndexedSeq: _*)
    val after = slice(m2).getOrElse(template.limit(0))
      .select(cols.map(c => col(c).as(s"__a_$c")).toIndexedSeq: _*)
    val joinCond = keys.map(k => col(s"__b_$k") <=> col(s"__a_$k")).reduce(_ && _)
    val inB = keys.map(k => col(s"__b_$k").isNotNull).reduce(_ && _)
    val inA = keys.map(k => col(s"__a_$k").isNotNull).reduce(_ && _)
    val samePayload =
      if (payload.isEmpty) lit(true)
      else struct(payload.map(c => col(s"__b_$c")): _*) <=> struct(payload.map(c => col(s"__a_$c")): _*)
    Right((
      before.join(after, joinCond, "full_outer")
        .withColumn("_change_type",
          when(!inB, lit("I")).when(!inA, lit("D"))
            .when(!samePayload, lit("U")).otherwise(lit(null)))
        .filter(col("_change_type").isNotNull),
      cols))
  }

  /** Retention (lakehouse VACUUM): keep the newest `keepVersions`
    * committed manifests, delete older manifests plus every
    * (bucket, writer) directory no retained manifest references. Writer
    * directories whose version never committed are LEFT ALONE — they
    * belong to an in-flight or crashed batch whose replay will overwrite
    * them; deleting them here would race the writer. `keepVersions >= 2`
    * is required so the newest batch's PARENT stays replayable (a crash
    * between the parts write and the checkpoint commit replays the newest
    * id against the version below it).
    *
    * When `feedPath` is given, the materialized change feed is pruned on
    * the SAME window: feed versions older than the oldest retained
    * manifest are deleted. This is the Kafka-retention contract for
    * consumers — a checkpointed file-stream consumer that has already
    * ingested a version never re-reads it (the file source tracks seen
    * files), so pruning behind the window is invisible to any consumer
    * lagging less than `keepVersions` batches; a NEW consumer needing
    * history beyond the window must bootstrap from
    * [[readPartitionedSnapshot]] instead ([[readFeedSince]] enforces this
    * loudly). */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keepVersions: Int,
      feedPath: Option[String] = None,
      /** Minimum AGE before attempt debris (unreferenced token part dirs,
        * `_attempt_*` staging dirs) counts as abandoned. The retention
        * floor alone is not enough on a fast-committing store: a
        * streaming maintainer at seconds-per-epoch can age `keepVersions`
        * commits past a LIVE long-running DML statement's part dirs —
        * this wall-clock floor protects any statement younger than it.
        * Default 6 h ≫ any sane statement runtime. */
      attemptRetentionMs: Long = 6L * 3600 * 1000): Unit = {
    require(keepVersions >= 2, "keepVersions >= 2 (the newest batch's parent must stay replayable)")
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = manifestVersions(spark, storePath).sorted
    if (vs.size <= keepVersions) return
    val keep = vs.takeRight(keepVersions).toSet
    for (fp <- feedPath) {
      // the feed may live on a different scheme/authority than the store
      // (store on hdfs://, feed on s3a://): resolve ITS filesystem, not
      // the store's
      val feedFs = new org.apache.hadoop.fs.Path(fp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val floor = keep.min
      committedVersions(spark, fp).filter(_ < floor).foreach(v =>
        feedFs.delete(new org.apache.hadoop.fs.Path(s"$fp/v=$v"), true))
      // compacted segments prune WHOLE (a segment is the atomic replay
      // unit): only when every version in it is behind the floor;
      // straddling segments keep a little extra history, never less
      feedSegments(spark, fp).filter(_._2 < floor).foreach { case (lo, hi) =>
        feedFs.delete(new org.apache.hadoop.fs.Path(s"$fp/seg=$lo-$hi"), true)
      }
    }
    val committed = vs.toSet // snapshot BEFORE deleting manifests
    def refsOf(v: Long): Seq[(Int, Long)] =
      readManifestFull(spark, storePath, v).toSeq.flatMap { case (p, e) =>
        // base AND merge-on-read delta writers are all live references.
        // Lazily-split children reference dirs at BOTH coordinates
        // conservatively (base lives at the parent coordinate, deltas at
        // the child's): over-protection only defers reaping, while a
        // missed reference would delete files a sibling still serves.
        e.writers.flatMap(w => Set(p -> w, e.physBucket(p) -> w))
      }
    val referenced: Set[(Int, Long)] = keep.flatMap(refsOf)
    // CAS batch commits write parts under TOKEN writer ids (≥ 2^62, never
    // a version number), so "its version committed" can't vouch for them;
    // instead a token dir is reapable exactly when the manifests that
    // referenced it are the ones aging out right now. (A crashed CAS
    // loser's dirs are referenced by NO manifest and normally stay — the
    // in-flight protection — EXCEPT when they predate the whole retained
    // history: see retentionFloorMs below.)
    val droppedRefs: Set[(Int, Long)] =
      vs.filterNot(keep).toSet[Long].flatMap(refsOf)
    // ABANDONED-ATTEMPT REAPING: a CAS loser that crashed between its
    // parts write and its cleanup leaves token part dirs and an
    // _attempt_w= staging dir referenced by NO manifest — with no reaping
    // path they accumulate forever. "Abandoned" is provable by AGE: any
    // attempt older than the OLDEST RETAINED COMMIT has been dead for the
    // store's whole retained history (a live attempt commits within one
    // statement), so its dirs are garbage, never in-flight state.
    val retentionFloorMs: Long = {
      val marker = new org.apache.hadoop.fs.Path(
        s"${manifestPath(storePath)}/v=${keep.min}/_SUCCESS")
      val commitFloor =
        if (fs.exists(marker)) fs.getFileStatus(marker).getModificationTime else Long.MinValue
      // BOTH floors must have passed: older than every retained commit
      // AND older than the wall-clock grace window — a busy store can
      // age keepVersions commits in seconds, which must never convict a
      // live statement's in-flight dirs
      math.min(commitFloor, System.currentTimeMillis() - attemptRetentionMs)
    }
    val allRefs = referenced ++ droppedRefs
    // reap PARTS first, manifests second: droppedRefs is the only proof a
    // token-writer dir is reapable, and it comes from the very manifests
    // this vacuum is about to delete — a crash between the phases must
    // leave the manifests (so the next vacuum re-derives the proof), not
    // orphan the unprovable part dirs forever
    val partsRoot = new org.apache.hadoop.fs.Path(partsPath(storePath))
    if (fs.exists(partsRoot)) {
      for {
        bDir <- fs.listStatus(partsRoot) if bDir.isDirectory &&
          bDir.getPath.getName.startsWith("_bucket=")
        p = bDir.getPath.getName.stripPrefix("_bucket=").toInt
        writerDir <- fs.listStatus(bDir.getPath) if writerDir.isDirectory &&
          writerDir.getPath.getName.startsWith("_writer=")
        w = writerDir.getPath.getName.stripPrefix("_writer=").toLong
        // only reap data whose commit is PROVEN finished and now
        // unreferenced: version writers via their committed manifest,
        // token writers via the dropped manifests that referenced them or
        // by abandonment age; anything else is in-flight and owned by its
        // replay/retry
        if !referenced.contains((p, w)) &&
          (committed.contains(w) || droppedRefs.contains((p, w)) ||
            (w >= (1L << 62) && !allRefs.contains((p, w)) &&
              provenOlderThan(fs, writerDir, retentionFloorMs)))
      } fs.delete(writerDir.getPath, true)
    }
    // abandoned staging manifests (CAS `_attempt_w=` and streaming
    // `_attempt_v=`) age out on the same floor
    val manifestRoot = new org.apache.hadoop.fs.Path(manifestPath(storePath))
    if (fs.exists(manifestRoot)) {
      fs.listStatus(manifestRoot).iterator
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_attempt_") &&
          provenOlderThan(fs, st, retentionFloorMs))
        .foreach(st => fs.delete(st.getPath, true))
    }
    vs.filterNot(keep).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v"), true)
    }
  }

  /** AGE PROOF for attempt debris: a directory's own modification time is
    * unreliable on object-store FileSystems (S3A reports 0 or the marker
    * creation time for directory "markers"), which would make a LIVE CAS
    * statement's in-flight dirs look ancient and delete them mid-
    * statement. Derive the age from the NEWEST FILE anywhere inside the
    * dir instead (a writing statement keeps producing fresh files); an
    * empty dir falls back to its own status mtime. Unknown/zero mtimes
    * make the dir UNREAPABLE — skipping a conviction only defers cleanup
    * to the next vacuum, deleting live state corrupts a commit. */
  private def provenOlderThan(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.FileStatus,
      floorMs: Long): Boolean = {
    val newest =
      try {
        var m = 0L
        val it = fs.listFiles(dir.getPath, true)
        while (it.hasNext) m = math.max(m, it.next().getModificationTime)
        if (m == 0L) dir.getModificationTime else m
      } catch { case _: java.io.IOException => return false } // racing delete/in-flight: skip
    newest > 0L && newest < floorMs
  }

  /** MERGE-ON-READ COMPACTION (the cadence that bounds read-side fold
    * depth): fold base + deltas of every bucket carrying at least
    * `minDeltas` pending delta levels back into a fresh BASE rewrite,
    * and commit the result as a new version whose compacted entries have
    * empty delta lists — logically a no-op (the resolved snapshot is
    * IDENTICAL before and after; the change feed across the boundary is
    * empty), physically the moment the store pays the bucket rewrite a
    * CoW commit would have paid per DML. Work is proportional to the
    * DIRTY buckets only; clean buckets carry by reference. Commits via
    * CAS with touched = the dirty buckets, so compaction rebases past
    * concurrent disjoint DML (and vice versa) without conflict. Returns
    * the new version, or None when nothing needed compacting. Row counts
    * and column statistics are re-recorded for the rewritten buckets
    * (they were honestly absent while deltas were pending), so count
    * pushdown and CBO stats come back after compaction. */
  /** Maintenance PLAN from the store's own health metadata (the
    * `x$partitions` readout, [[describePartitions]]): the bucket ids whose
    * pending delta depth EXCEEDS `maxDepth`, plus every lazily-split child
    * still serving a slice of its parent's files (`base_mod` set) — the
    * buckets an operator's compaction pager would fire on. Pure
    * driver-side manifest metadata, nBuckets-bounded, zero data IO. */
  def planMaintenance(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      maxDepth: Int,
      version: Option[Long] = None): Set[Int] = {
    require(maxDepth >= 0, "maxDepth >= 0")
    val (_, _, manifest, _) = servingState(spark, storePath, version)
    manifest.collect {
      case (p, e) if e.deltas.length > maxDepth || e.baseMod.isDefined => p
    }.toSet
  }

  /** The closed health→maintenance loop: read the per-bucket readout,
    * compact ONLY the over-threshold buckets ([[planMaintenance]] →
    * [[compactStore]] with `onlyBuckets`), leave every healthy bucket's
    * files untouched byte for byte. After a run, no bucket's pending
    * depth exceeds `maxDepth` (law in CdcSpec), the snapshot is
    * byte-identical, and the change feed across the maintenance version
    * is empty — maintenance is layout, never semantics. Returns the
    * committed maintenance version, or None when the store is already
    * within threshold. At 100 TB this is the difference between paying a
    * full-store rewrite on a schedule and paying IO proportional to the
    * buckets that actually accumulated deltas. */
  def maintainStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keys: Seq[String],
      nBuckets: Int,
      maxDepth: Int,
      zorderCols: Seq[String] = Nil): Option[Long] = {
    val plan = planMaintenance(spark, storePath, maxDepth)
    if (plan.isEmpty) None
    else compactStore(spark, storePath, keys, nBuckets, minDeltas = 1,
      zorderCols = zorderCols, onlyBuckets = Some(plan))
  }

  def compactStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      keys: Seq[String],
      nBuckets: Int,
      minDeltas: Int = 1,
      /** Z-ORDER the rewrite: when 2 or 3 numeric/date columns are named,
        * each rewritten bucket's rows are clustered by their Morton key
        * (2-D interleave / 3-D morton3 — the same machinery as
        * [[graft.sources.Sinks.writeClustered]]) and split into
        * `zorderFilesPerBucket` range-partitioned files, so every file
        * covers a small BOX of the named columns' space and the store
        * scan's pushed filters skip whole row groups on ANY of them
        * (footer min/max stay tight per file). Compaction is the natural
        * place to pay the clustering sort: the bucket is being rewritten
        * anyway. Bounds come from one stats pass over the resolved dirty
        * rows; NULLs sort first within their bucket. Content is
        * byte-identical to an unclustered compaction (law in CdcSpec) —
        * clustering is layout, never semantics. Tradeoff: the default
        * (unclustered) rewrite key-sorts each bucket, which keeps KEY
        * statistics tight for key-panel row-group pruning — include the
        * merge key among the z-dims when point lookups matter. */
      zorderCols: Seq[String] = Nil,
      zorderFilesPerBucket: Int = 4,
      /** Restrict the rewrite to these bucket ids (planner-driven
        * TARGETED maintenance — see [[maintainStore]]): dirty buckets
        * outside the set stay carried by reference, their files untouched
        * byte for byte. None = compact every dirty bucket. */
      onlyBuckets: Option[Set[Int]] = None): Option[Long] = {
    require(minDeltas >= 1, "minDeltas >= 1")
    require(nBuckets > 0, "nBuckets must be positive")
    require(zorderCols.isEmpty || zorderCols.size == 2 || zorderCols.size == 3,
      s"zorderCols clusters 2 or 3 columns, got ${zorderCols.size}")
    require(zorderFilesPerBucket >= 1, "zorderFilesPerBucket >= 1")
    val (v, meta, entries, _) = servingState(spark, storePath)
    // compaction REWRITES buckets: wrong layout arguments would silently
    // collapse distinct keys (fold on the wrong identity) or scatter rows
    // into buckets no reader looks in
    requireLayout(meta, storePath, keys, nBuckets)
    // dirty = pending deltas to fold, OR a lazily-split child still
    // serving a slice of its parent's files ([[splitBuckets]]) — the
    // "rewritten natively on next compaction touch" half of the split
    // contract: the rewrite materializes the child's own files, restores
    // its rows/stats, and drops the shared parent dir once no sibling
    // references it (vacuum)
    val dirty = entries.filter { case (p, e) =>
      (e.deltas.length >= minDeltas || e.baseMod.isDefined) &&
        onlyBuckets.forall(_.contains(p))
    }
    if (dirty.isEmpty) return None
    val token = mintCasToken()
    val resolved = readResolvedBuckets(spark, storePath, v, meta, dirty.toSeq.sortBy(_._1))
    val physKeys = keys.map(meta.phys)
    val statsOn = statsCollectionOn(meta.schema)
    val renamed = resolved
      .select(meta.schema.fields.map(f => col(f.name).as(meta.phys(f.name))).toIndexedSeq: _*)
      .withColumn("_bucket", bucketExpr(physKeys, nBuckets))
      .withColumn("_writer", lit(token))
    val clustered =
      if (zorderCols.isEmpty)
        renamed.sortWithinPartitions(("_bucket" +: "_writer" +: physKeys).map(col): _*)
      else {
        val missing = zorderCols.filterNot(meta.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"zorderCols not in $storePath schema: ${missing.mkString(", ")}")
        // DATE columns z-cluster as epoch days (Spark refuses date→numeric
        // casts, so the dimension normalizes through unix_date)
        def zNum(c: Column, logical: String): Column =
          if (meta.schema(logical).dataType == org.apache.spark.sql.types.DateType)
            unix_date(c).cast("long")
          else c.cast("long")
        // one tiny stats pass (2·k scalars) for the min-max normalization;
        // computed over the LOGICAL frame, applied to the physical names
        val bAggs = zorderCols.flatMap(c =>
          Seq(min(zNum(col(c), c)), max(zNum(col(c), c))))
        val bRow = resolved.agg(bAggs.head, bAggs.tail: _*).collect().head
        // an all-NULL column (or an empty resolved set — every dirty
        // bucket's rows deleted) has no bounds: treat it as constant, so
        // it maps to 0 instead of NPE'ing a compaction the plain path
        // commits fine
        def bound(i: Int): Long = if (bRow.isNullAt(i)) 0L else bRow.getLong(i)
        val bits =
          if (zorderCols.size == 3) graft.catalyst.Morton3Expression.BitsPerDim else 20
        val scaled = zorderCols.zipWithIndex.map { case (c, i) =>
          // clamp into [0, 2^bits): long-floored bounds can leave a
          // fractional max a hair above `hi`, and an over-range input
          // would bleed into a sibling dimension's interleaved bits.
          // NULL values coalesce to slot 0 — they cluster at the low end
          // of their bucket's file range (least/greatest skip nulls, so
          // without the coalesce a NULL would land in the TOP slot).
          coalesce(
            greatest(lit(0L), least(lit((1L << bits) - 1),
              graft.functions.ZOrder.scaleToBits(
                zNum(col(meta.phys(c)), c), lit(bound(2 * i)), lit(bound(2 * i + 1)),
                bits))),
            lit(0L))
        }
        val zKey =
          if (zorderCols.size == 2)
            graft.functions.ZOrder.interleaveBits(spark, scaled(0), scaled(1))
          else graft.functions.ZOrder.morton3(spark, scaled(0), scaled(1), scaled(2))
        renamed
          .withColumn("__z", zKey)
          .repartitionByRange(
            math.max(1, dirty.size * zorderFilesPerBucket), col("_bucket"), col("__z"))
          .sortWithinPartitions(col("_bucket"), col("__z"))
          .drop("__z")
      }
    // r22: same no-read-back commit as processPartitionedBatch — the
    // rewrite frame is checkpointed once, the write and the ANALYZE
    // pass both read the cached blocks, and the fresh files are
    // never re-opened (stats identical by construction; see
    // [[bucketStatsAgg]]).
    val clusteredCk = clustered.localCheckpoint(true)
    val clusteredRdd = clusteredCk.queryExecution.analyzed
      .collectFirst { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
    try {
    clusteredCk
      .write.partitionBy("_bucket", "_writer")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(partsPath(storePath))
    val written = listWrittenBuckets(spark, storePath, token)
    val scanned: Map[Int, (Long, Map[String, ColStatRec])] =
      if (written.isEmpty) Map.empty
      else bucketStatsAgg(clusteredCk, meta.physicalSchema, statsOn)
        .view.filterKeys(written.contains).toMap
    // a dirty bucket whose resolved content is EMPTY (every key deleted)
    // writes no dir and DROPS from the manifest — same contract as a CoW
    // batch that empties a bucket
    val newEntries = ((entries -- dirty.keySet) ++ written.map(p =>
      p -> BucketEntry(Some(token), Some(scanned(p)._1), scanned(p)._2)))
      .toSeq.sortBy(_._1)
    Some(commitCas(spark, storePath, v + 1, token, newEntries, meta,
      touched = dirty.keySet, parentEntries = entries, parentMeta = Some(meta)))
    } finally clusteredRdd.foreach(_.unpersist(blocking = false))
  }

  /** Committed SINGLE-version directories (`v=<id>`) present in a
    * materialized feed. Versions folded into compacted segments are
    * listed by [[feedSegments]]; the full retained version line is
    * [[feedRetainedVersions]]. */
  def feedVersions(
      spark: org.apache.spark.sql.SparkSession, feedPath: String): Seq[Long] =
    committedVersions(spark, feedPath)

  /** Committed compacted segments (`seg=<from>-<to>` directories) in
    * version order. Each holds the concatenated CDF rows of feed
    * versions from..to with `_commit_version` intact and
    * `_commit_timestamp` MATERIALIZED as a column (the per-version
    * commit markers die with the `v=` dirs). */
  def feedSegments(
      spark: org.apache.spark.sql.SparkSession, feedPath: String): Seq[(Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(feedPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map { st =>
        val range = st.getPath.getName.stripPrefix("seg=").split("-")
        (range(0).toLong, range(1).toLong)
      }.sortBy(_._1)
  }

  /** Every retained feed version — segment ranges expanded plus single
    * `v=` dirs (a single covered by a committed segment is a compaction
    * leftover mid-delete; the segment wins). Sorted. */
  def feedRetainedVersions(
      spark: org.apache.spark.sql.SparkSession, feedPath: String): Seq[Long] = {
    val segs = feedSegments(spark, feedPath)
    val inSeg = (v: Long) => segs.exists { case (lo, hi) => v >= lo && v <= hi }
    (segs.flatMap { case (lo, hi) => lo to hi } ++
      feedVersions(spark, feedPath).filterNot(inSeg)).sorted
  }

  /** FEED LOG COMPACTION (the Kafka segment-coalescing shape): fold runs
    * of `segmentSize` CONSECUTIVE old `v=<id>` directories into one
    * `seg=<from>-<to>` parquet directory each, so a consumer replaying
    * deep history opens a bounded file count instead of one tiny
    * directory per fine-grained epoch. Semantics preserved exactly:
    * `_commit_version` rides in the rows as before, and
    * `_commit_timestamp` is materialized from each version's commit
    * marker BEFORE the marker is deleted, so batch reads and the feed
    * table serve identical values pre/post compaction.
    *
    * The newest `keepRecentSingles` versions (default: one segment's
    * worth) always stay single — a SEGMENT is the atomic replay unit for
    * the streaming tail, so compaction bounds how far behind a live
    * consumer may checkpoint, exactly like retention does: a consumer
    * whose resume point lies INSIDE a segment must bootstrap (the tail
    * throws, never double-serves). Crash-safe: a segment commits
    * (`_SUCCESS`) before its `v=` dirs are deleted, and readers prefer
    * committed segments over leftover singles, so re-running compaction
    * after any crash converges. */
  def compactFeed(
      spark: org.apache.spark.sql.SparkSession,
      feedPath: String,
      segmentSize: Int,
      keepRecentSingles: Int = -1): Unit = {
    require(segmentSize >= 2, "segmentSize >= 2 (a 1-version segment is the v= dir it replaces)")
    val keep = if (keepRecentSingles < 0) segmentSize else keepRecentSingles
    val fs = new org.apache.hadoop.fs.Path(feedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = feedSegments(spark, feedPath)
    val inSeg = (v: Long) => segs.exists { case (lo, hi) => v >= lo && v <= hi }
    val singles = feedVersions(spark, feedPath).sorted
    // heal any crashed prior compaction first: singles a committed
    // segment already covers are dead weight (readers ignore them)
    singles.filter(inSeg).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$feedPath/v=$v"), true))
    val candidates = singles.filterNot(inSeg).dropRight(keep)
    // only FULL runs of consecutive versions compact; leftovers stay single
    val runs = candidates.foldLeft(Vector.empty[Vector[Long]]) { (acc, v) =>
      if (acc.nonEmpty && acc.last.last == v - 1 && acc.last.size < segmentSize)
        acc.init :+ (acc.last :+ v)
      else acc :+ Vector(v)
    }.filter(_.size == segmentSize)
    runs.foreach { run =>
      val withTs = run.map { v =>
        val ts = feedCommitTime(spark, feedPath, v)
        spark.read.parquet(s"$feedPath/v=$v")
          .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
      }
      // one file per segment: compaction exists for FINE-GRAINED old
      // epochs (a directory per single-row version), so the coalesced
      // segment is small by construction; size segmentSize so that holds
      withTs.reduce(_.unionByName(_, allowMissingColumns = true))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$feedPath/seg=${run.head}-${run.last}")
      // segment committed: the v= dirs it covers are now redundant
      run.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$feedPath/v=$v"), true))
    }
  }

  /** Commit wall-clock of one FEED version — its `_SUCCESS` marker's
    * mtime, the same no-extra-metadata convention as
    * [[versionCommitTimes]]. Millis since epoch. */
  def feedCommitTime(
      spark: org.apache.spark.sql.SparkSession, feedPath: String, v: Long): Long = {
    val marker = new org.apache.hadoop.fs.Path(s"$feedPath/v=$v/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(marker).getModificationTime
  }

  /** BATCH-read the materialized feed from `sinceV` (exclusive) onward —
    * the bootstrap/catch-up read a non-streaming consumer does. Fails
    * LOUDLY when `sinceV` has fallen behind the retention window (the
    * versions between `sinceV` and the oldest retained feed entry were
    * vacuumed): a silent empty/partial read would make the consumer's
    * maintained state diverge irrecoverably. `sinceV` equal to or newer
    * than the newest feed entry returns an empty frame (nothing new) —
    * that is inside the contract, not a retention miss. */
  def readFeedSince(
      spark: org.apache.spark.sql.SparkSession,
      feedPath: String,
      sinceV: Long): DataFrame = {
    val vs = feedRetainedVersions(spark, feedPath)
    if (vs.isEmpty)
      throw new IllegalStateException(s"no committed feed versions under $feedPath")
    val wanted = vs.filter(_ > sinceV)
    val segs = feedSegments(spark, feedPath)
    def dirOf(v: Long): String = segs.find { case (lo, hi) => v >= lo && v <= hi }
      .map { case (lo, hi) => s"$feedPath/seg=$lo-$hi" }
      .getOrElse(s"$feedPath/v=$v")
    if (wanted.isEmpty)
      return spark.read.parquet(dirOf(vs.max))
        .drop("_commit_timestamp").filter(lit(false))
    // batch ids are consecutive (Spark checkpoint contract), so the next
    // version a consumer at sinceV needs is sinceV+1; if the oldest
    // retained entry is newer, the gap was vacuumed — lag > retention
    if (wanted.head > sinceV + 1)
      throw new IllegalStateException(
        s"feed retention exceeded: resume point v=$sinceV needs v=${sinceV + 1} " +
          s"but the oldest retained feed version is v=${wanted.head}; " +
          "bootstrap from readPartitionedSnapshot instead")
    // mergeSchema: feed versions written before an ADDITIVE schema
    // evolution lack the later columns; merging the (retention-bounded)
    // footers serves the union schema with NULLs for the pre-evolution
    // rows — without it Spark samples ONE footer and could silently drop
    // the new columns from the whole read. A wanted version inside a
    // compacted segment reads the whole segment dir; the
    // `_commit_version > sinceV` filter restores exactness (batch plans
    // re-check it row-level). `_commit_timestamp` is a segment-only
    // column — dropped so the frame's schema is identical whether the
    // read crossed a segment or not (the catalog feed TABLE serves it).
    val dirs = wanted.map(dirOf).distinct
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      .drop("_commit_timestamp")
      .filter(col("_commit_version") > sinceV)
  }

  /** In-JVM manifest cache (r22): a committed `v=<id>` manifest dir is
    * immutable — every writer stages under a fresh name and RENAMES onto
    * the version, so new content always means a new `_SUCCESS` mtime and
    * file census. The validity token captures exactly that (mtime + every
    * data file's name and length), making replay re-commits, CAS rebases
    * and vacuum all cache-coherent: any change misses, a vanished dir
    * falls through to the normal read and fails as loudly as before.
    * Same class of metadata caching as Spark's own file-index cache
    * (guide §6); bounded, never holds data rows — nBuckets entries each. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, BucketEntry]]()
  private def manifestToken(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val st = fs.listStatus(dir).filter(_.isFile).sortBy(_.getPath.getName)
      val succ = st.find(_.getPath.getName == "_SUCCESS")
      succ.map { s =>
        st.map(f => s"${f.getPath.getName}:${f.getLen}").mkString(
          s"$dir@${s.getModificationTime}|", ",", "")
      }
    } catch { case _: java.io.FileNotFoundException => None }

  /** Manifest entries of version `v` — per bucket: base writer, recorded
    * row count / column statistics (None/empty for manifests written
    * before they rode along, or for buckets with pending deltas — the
    * next full rewrite records them forward; readers treat absence as
    * unknown, never as zero), and the ordered merge-on-read delta
    * writers. nBuckets-bounded: config, not data. Served from
    * [[manifestCache]] when the dir's token matches, else decoded on the
    * driver ([[readManifestFullUncached]]): no Spark job either way. */
  private[graft] def readManifestFull(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      v: Long): Map[Int, BucketEntry] = {
    val dirPath = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v")
    val fsm = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = manifestToken(fsm, dirPath)
    token.flatMap(t => Option(manifestCache.get(t))) match {
      case Some(hit) => hit
      case None =>
        val loaded = readManifestFullUncached(spark, storePath, v)
        token.foreach { t =>
          if (manifestCache.size > 512) manifestCache.clear()
          manifestCache.put(t, loaded)
        }
        loaded
    }
  }

  /** Decode a `v=<id>` manifest dir on the driver with parquet-java, the
    * way [[writeManifestParquet]] writes it: a few KB of nBuckets-bounded
    * metadata, where `spark.read.parquet` + `collect` paid a schema-
    * inference job and a collect job. Reads every part file (skipping
    * `_`/`.` names, as Spark does) under its own footer schema, so the
    * optional columns older manifests lack decode as absent. A missing dir
    * fails loudly, naming the path. */
  private def readManifestFullUncached(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      v: Long): Map[Int, BucketEntry] = {
    import org.apache.parquet.example.data.Group
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"${manifestPath(storePath)}/v=$v")
    val parts = dir.getFileSystem(conf).listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    def present(g: Group, f: String): Boolean =
      g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def num(g: Group, f: String): Option[Long] =
      if (!present(g, f)) None
      else if (g.getType.getType(f).asPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
        Some(g.getInteger(f, 0).toLong)
      else Some(g.getLong(f, 0))
    def str(g: Group, f: String): Option[String] =
      if (present(g, f)) Some(g.getString(f, 0)) else None
    // a MAP's key_value / a LIST's list entries: the one repeated child
    def entries(g: Group, f: String): Seq[Group] =
      if (!present(g, f)) Nil
      else {
        val c = g.getGroup(f, 0)
        (0 until c.getFieldRepetitionCount(0)).map(c.getGroup(0, _))
      }
    parts.iterator.flatMap { st =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), st.getPath)
        .withConf(conf)
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        val w = num(g, "_writer").get
        num(g, "_bucket").get.toInt -> BucketEntry(
          if (w < 0) None else Some(w),
          num(g, "_rows"),
          entries(g, "_colstats").map { kv =>
            val st = kv.getGroup("value", 0)
            kv.getString("key", 0) ->
              ColStatRec(num(st, "nulls").get, num(st, "ndv"), str(st, "min"), str(st, "max"))
          }.toMap,
          entries(g, "_deltas").map(e => num(e, "element").get),
          num(g, "_basemod").map(_.toInt))
      }.toVector
      finally reader.close()
    }.toMap
  }

  /** Parquet layout of a manifest part file — byte-for-byte the shape
    * Spark's own parquet writer produced for the old DataFrame commit
    * path (same column structure, repetition levels, and spark row-
    * metadata footer), pinned here so DRIVER-SIDE commits read back
    * identically and merge freely with any Spark-written manifest in a
    * multi-version read. `_writer` spells an absent base as −1. */
  private lazy val ManifestParquetType: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { required int32 _bucket; required int64 _writer; " +
        "optional int64 _rows; " +
        "optional group _colstats (MAP) { repeated group key_value { " +
        "required binary key (STRING); optional group value { " +
        "required int64 nulls; optional int64 ndv; " +
        "optional binary min (STRING); optional binary max (STRING); } } } " +
        "optional group _deltas (LIST) { repeated group list { required int64 element; } } " +
        "optional int32 _basemod; }")

  /** The catalyst row-metadata footer entry Spark's writer embeds; kept
    * identical so `spark.read.parquet` resolves the exact same types and
    * nullability for driver-written and Spark-written manifests. */
  private val ManifestRowMetaJson: String =
    """{"type":"struct","fields":[""" +
      """{"name":"_bucket","type":"integer","nullable":false,"metadata":{}},""" +
      """{"name":"_writer","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"_rows","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"_colstats","type":{"type":"map","keyType":"string","valueType":""" +
      """{"type":"struct","fields":[""" +
      """{"name":"nulls","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"ndv","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"min","type":"string","nullable":true,"metadata":{}},""" +
      """{"name":"max","type":"string","nullable":true,"metadata":{}}]},""" +
      """"valueContainsNull":true},"nullable":true,"metadata":{}},""" +
      """{"name":"_deltas","type":{"type":"array","elementType":"long",""" +
      """"containsNull":false},"nullable":true,"metadata":{}},""" +
      """{"name":"_basemod","type":"integer","nullable":true,"metadata":{}}]}"""

  /** Stage the manifest for `entries` DIRECTLY from the driver (guide
    * §1.2/§5: a manifest is nBuckets-bounded driver state — the old
    * DataFrame write paid a full Spark job + committer round-trip per
    * COMMIT to move a few KB). Replaces the staging dir wholesale and
    * leaves the same layout the Spark job left: one part file plus the
    * `_SUCCESS` marker the commit protocol's rename carries along as its
    * visibility token. */
  private[graft] def writeManifestParquet(
      spark: org.apache.spark.sql.SparkSession,
      staging: org.apache.hadoop.fs.Path,
      entries: Seq[(Int, BucketEntry)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = staging.getFileSystem(conf)
    if (fs.exists(staging)) fs.delete(staging, true)
    fs.mkdirs(staging)
    val file = new org.apache.hadoop.fs.Path(staging, "part-00000.snappy.parquet")
    val meta = new java.util.HashMap[String, String]()
    meta.put("org.apache.spark.sql.parquet.row.metadata", ManifestRowMetaJson)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(ManifestParquetType)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(meta)
      .build()
    try entries.foreach { case (p, e) =>
      val g = new SimpleGroup(ManifestParquetType)
      g.add("_bucket", p)
      g.add("_writer", e.base.getOrElse(-1L))
      e.rows.foreach(r => g.add("_rows", r))
      val cs = g.addGroup("_colstats")
      e.stats.foreach { case (name, st) =>
        val kv = cs.addGroup("key_value")
        kv.add("key", name)
        val v = kv.addGroup("value")
        v.add("nulls", st.nulls)
        st.ndv.foreach(v.add("ndv", _))
        st.min.foreach(v.add("min", _))
        st.max.foreach(v.add("max", _))
      }
      val dl = g.addGroup("_deltas")
      e.deltas.foreach(d => dl.addGroup("list").add("element", d))
      e.baseMod.foreach(g.add("_basemod", _))
      writer.write(g)
    } finally writer.close()
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), true).close()
  }

  /** `DESCRIBE HISTORY`-shape audit surface over the store's own
    * metadata (the Delta/Iceberg history table every lake exposes): one
    * row per committed version with its commit wall-clock (the manifest
    * `_SUCCESS` marker's mtime — the atomic commit point itself), bucket
    * census, how many buckets the version actually REWROTE (vs carried
    * by reference from its parent — the per-commit write amplification,
    * read straight off the manifest diff), and the recorded row count.
    * Pure driver-side metadata: nVersions × nBuckets manifest rows, no
    * data file is opened. `rows` is null for versions whose manifests
    * predate count recording. */
  def describeHistory(
      spark: org.apache.spark.sql.SparkSession, storePath: String): DataFrame = {
    import spark.implicits._
    val vs = manifestVersions(spark, storePath).sorted
    if (vs.isEmpty)
      return Seq.empty[(Long, Long, Int, Int, Option[Long], Int)]
        .toDF("version", "commit_ts_millis", "buckets", "touched_buckets", "rows",
          "delta_buckets")
    // CHECKPOINT + TAIL ([[checkpointHistory]]): rows at or before the
    // newest checkpoint come from ONE rolled-up parquet; only the tail's
    // fine-grained manifests are folded (one partitioned read over ≤K
    // version dirs, collected once — per-bucket signature diffs against
    // the checkpoint's boundary). Checkpoint rows are filtered to the
    // RETAINED version set, so vacuum semantics are unchanged; a store
    // with no checkpoint folds everything, the pre-ckpt behavior.
    val vsSet = vs.toSet
    val ck = latestHistoryCkpt(spark, storePath)
    val ckUp = ck.map(_._1).getOrElse(Long.MinValue)
    val headRows = ck.map(_._2).getOrElse(Seq.empty).filter(r => vsSet.contains(r.v))
    val tail = vs.filter(_ > ckUp)
    val times = commitTimesFor(spark, storePath, tail).toMap
    // the checkpoint boundary is the first tail version's TRUE parent
    // only when v=ckUp+1 is the next retained version; if vacuum removed
    // everything between the checkpoint and the retained window, diffing
    // against the stale boundary would misattribute every change since
    // the checkpoint to the oldest retained version — report all-touched
    // there instead, exactly the un-checkpointed post-vacuum convention
    val boundary: Map[Int, BucketSig] =
      if (tail.headOption.contains(ckUp + 1)) ck.map(_._3).getOrElse(Map.empty)
      else Map.empty
    val tailRows = historyRowsFor(spark, storePath, tail, boundary, times)
    (headRows ++ tailRows)
      .map(r => (r.v, r.ts, r.buckets, r.touched, r.rows, r.deltaBuckets))
      .toDF("version", "commit_ts_millis", "buckets", "touched_buckets", "rows",
        "delta_buckets")
  }

  /** `$files`-shape metadata: the serving layout's LIVE data files — one
    * row per parquet file the manifest references (base AND merge-on-read
    * delta files; `is_delta` distinguishes them) with path, bytes, the
    * bucket's manifest-recorded row count, and the file's own EXACT row
    * count (`file_rows`, from its footer) — what makes small-file
    * pressure and compaction planning real instead of inferred. Listing
    * AND the footer reads are both DISTRIBUTED: the manifest already
    * names every live (bucket, writer) directory, so ONE Spark stage
    * over those dirs lists and footer-reads them executor-side — at
    * 4096 buckets × several writers the driver issues zero per-dir
    * LIST RPCs (they were the remaining sequential-driver cost). */
  def describeFiles(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (_, _, manifest, _) = servingState(spark, storePath, version)
    // (bucket, writer, dir, manifest rows, is_delta, base_mod) — straight
    // off the manifest, no filesystem call on the driver
    val dirRows: Seq[(Int, Long, String, Option[Long], Boolean, Option[Int])] =
      manifest.toSeq.sortBy(_._1).flatMap { case (p, e) =>
        (e.base.map(_ -> false).toSeq ++ e.deltas.map(_ -> true)).map { case (w, isDelta) =>
          // base dirs of lazily-split children live at the parent
          // coordinate, so a shared parent file lists once per serving
          // child — each row is a live REFERENCE, flagged by `base_mod`
          // (the slice modulus, null for native rows) so footprint sums
          // know to DISTINCT the path; deltas are always native
          (p, w, bucketDir(storePath, if (isDelta) p else e.physBucket(p), w), e.rows,
            isDelta, if (isDelta) None else e.baseMod)
        }
      }
    if (dirRows.isEmpty)
      return Seq.empty[(Int, Long, String, Long, Option[Long], Long, Boolean, Option[Int])]
        .toDF("_bucket", "_writer", "path", "bytes", "bucket_rows", "file_rows", "is_delta",
          "base_mod")
    val confMap = graft.sources.SessionHadoopConf.capture()
    dirRows.toDF("_bucket", "_writer", "dir", "bucket_rows", "is_delta", "base_mod")
      .repartition(math.max(1, math.min(dirRows.size, 32)))
      .mapPartitions { it =>
        // executor-side LIST + footer reads, with the session's Hadoop
        // conf (same as the scan readers)
        val c = graft.sources.SessionHadoopConf.toConf(confMap)
        it.flatMap { r =>
          val dir = new org.apache.hadoop.fs.Path(r.getString(2))
          val fs = dir.getFileSystem(c)
          if (!fs.exists(dir)) Iterator.empty
          else fs.listStatus(dir).iterator
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map { st =>
              val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, c))
              val n = try reader.getRecordCount finally reader.close()
              (r.getInt(0), r.getLong(1), st.getPath.toString, st.getLen,
                if (r.isNullAt(3)) None else Some(r.getLong(3)), n, r.getBoolean(4),
                if (r.isNullAt(5)) None else Some(r.getInt(5)))
            }
        }
      }
      .toDF("_bucket", "_writer", "path", "bytes", "bucket_rows", "file_rows", "is_delta",
        "base_mod")
      .orderBy("_bucket", "_writer", "path")
  }

  /** `$partitions`-shape metadata: ONE row per manifest bucket entry of
    * the serving version — recorded rows (null while deltas pend or the
    * child is lazily split), the base writer, the pending DELTA DEPTH
    * (the read-side fold cost), and the lazy-split marker (`base_mod`,
    * null for native entries) — the per-bucket health readout compaction
    * planning runs on: `WHERE delta_depth > 0 OR base_mod IS NOT NULL`
    * is exactly compactStore's dirty set. Pure driver-side manifest
    * metadata: nBuckets-bounded, zero file IO (join `$files` for
    * bytes). */
  def describePartitions(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (_, _, manifest, _) = servingState(spark, storePath, version)
    manifest.toSeq.sortBy(_._1).map { case (p, e) =>
      (p, e.rows, e.base, e.deltas.length, e.baseMod)
    }.toDF("_bucket", "rows", "base_writer", "delta_depth", "base_mod")
  }

  /** The committed version a call serves: `version` when it is
    * committed, else the newest committed one. The one place that
    * refuses an empty store or an uncommitted version. */
  private def resolveVersion(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      version: Option[Long]): Long = {
    val vs = manifestVersions(spark, storePath)
    val v = version.getOrElse {
      if (vs.isEmpty) throw new IllegalStateException(s"no committed snapshot under $storePath")
      vs.max
    }
    require(vs.contains(v), s"version $v is not committed under $storePath")
    v
  }

  /** Everything one call needs to serve `version` (default: newest
    * committed), resolved ONCE — one version resolution, one manifest
    * read, one metadata read — and passed down instead of re-read: the
    * snapshot and lookup readers, maintenance, metadata-only commits,
    * the DSv2 store table and the feed table all project from it.
    * Returns (version, schema metadata, full manifest (writer, rows,
    * colstats, deltas per bucket), bucket → base parts dir). */
  def servingState(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      version: Option[Long] = None)
      : (Long, StoreMeta, Map[Int, BucketEntry], Map[Int, String]) = {
    val v = resolveVersion(spark, storePath, version)
    val manifest = readManifestFull(spark, storePath, v)
    val meta = storedMeta(spark, storePath, v)
    val dirs = manifest.collect { case (p, e) if e.base.isDefined =>
      // a lazily-split child's base files live at its PARENT coordinate
      p -> bucketDir(storePath, e.physBucket(p), e.base.get)
    }
    (v, meta, manifest, dirs)
  }

  /** Row count of one bucket directory from its parquet FOOTERS — driver
    * metadata reads (no data pages), used once per touched bucket at
    * commit time. */
  private def dirRowCount(
      spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** One column's per-bucket statistics as recorded in the manifest
    * (`_colstats` map column): exact null count, approximate distinct
    * count (HLL), and min/max as STRINGIFIED internal values (absent
    * when the bucket is all-NULL for the column, or the type records no
    * range — strings). Estimates for the CBO, never served as answers. */
  case class ColStatRec(
      nulls: Long, ndv: Option[Long], min: Option[String], max: Option[String])

  /** Types whose min/max feed the CBO (internal value stringifies and
    * parses back trivially; ranges are what filter estimation uses).
    * Strings record null/distinct counts only — catalyst range
    * estimation skips them anyway. */
  private val CboMinMaxTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, DoubleType, FloatType, DateType, BooleanType)
  }

  /** Whether this commit should ANALYZE-on-write: at least one column of
    * a tracked type (the ONE definition every commit path shares — CoW,
    * merge-on-read auto-compaction, and compactStore must record stats
    * under identical rules or CBO estimates become path-dependent).
    * Per-bucket column statistics cost ONE narrow pass over the rows the
    * commit just wrote ([[bucketStatsAgg]]): one Spark job, no shuffle,
    * touched-buckets-bounded. */
  private def statsCollectionOn(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.exists(statsTracked)

  /** A column ANALYZE-on-write records: a [[CboMinMaxTypes]] type or a
    * string. */
  private def statsTracked(f: org.apache.spark.sql.types.StructField): Boolean =
    CboMinMaxTypes.contains(f.dataType) || f.dataType == org.apache.spark.sql.types.StringType

  /** ANALYZE-on-write backfill: [[bucketStatsAgg]] over the named bucket
    * directories (carried buckets whose manifests predate stat
    * recording), read with the layout's `_bucket` partition column. */
  private def bucketStatsScan(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : Map[Int, (Long, Map[String, ColStatRec])] = {
    if (dirs.isEmpty) return Map.empty
    bucketStatsAgg(
      spark.read.option("basePath", partsPath(storePath))
        .schema(withPartCols(schema))
        .parquet(dirs: _*),
      schema, withStats = true)
  }

  /** ANALYZE-on-write over any `_bucket`-carrying frame: exact
    * rows/nulls/min/max plus HLL distinct counts per tracked column, the
    * stats Spark's FilterEstimation needs (it refuses to estimate a range
    * predicate without BOTH min/max and a distinct count). Commits call
    * it on their checkpointed COMMIT FRAME (the rows the write job
    * emitted, identical to the files' content, so stats never re-open
    * what was just written); backfill calls it on a read-back frame.
    *
    * ONE narrow pass, not a Catalyst aggregate: a `groupBy(_bucket).agg`
    * of `approx_count_distinct` plans two 1-task stages, and
    * `HashAggregateExec` cannot codegen the HLL++ buffer, so every task
    * rebuilds its projection — hundreds of ms to move a few KB. Each
    * partition here folds its rows into per-bucket partials (row and
    * non-null counts, HLL++ registers through the same
    * `HyperLogLogPlusPlusHelper` `approx_count_distinct` uses, min/max
    * under the type's catalyst ordering), and the driver merges them.
    * Every statistic is order- and partitioning-independent, so the
    * recorded values equal the aggregate's (law in CdcCommitPathSpec).
    * Min/max are stringified INTERNAL values (DATE = epoch days), what
    * the scan side parses. `withStats = false` records row counts only. */
  private[graft] def bucketStatsAgg(
      df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      withStats: Boolean)
      : Map[Int, (Long, Map[String, ColStatRec])] = {
    val tracked =
      if (withStats) schema.fields.filter(statsTracked)
      else Array.empty[org.apache.spark.sql.types.StructField]
    val ordinals = tracked.map(f => df.schema.fieldIndex(f.name))
    val types = tracked.map(_.dataType)
    val ranged = tracked.map(f => CboMinMaxTypes.contains(f.dataType))
    val bucketOrdinal = df.schema.fieldIndex("_bucket")
    val partials = df.queryExecution.toRdd.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[Int, BucketStats]
      rows.foreach { r =>
        acc.getOrElseUpdate(r.getInt(bucketOrdinal), new BucketStats(types, ranged))
          .add(r, ordinals)
      }
      acc.iterator
    }.collect() // nBuckets-bounded per partition
    partials.groupMapReduce(_._1)(_._2)(_ merge _).map { case (p, b) =>
      p -> (b.rows, tracked.indices.map(i => tracked(i).name -> b.record(i)).toMap)
    }
  }

  /** One bucket's partial ANALYZE state for [[bucketStatsAgg]]: the row
    * count, and per tracked column its non-null count, HLL++ registers
    * (relative SD 0.05, `approx_count_distinct`'s default) and min/max as
    * internal values. */
  private final class BucketStats(
      types: Array[org.apache.spark.sql.types.DataType],
      ranged: Array[Boolean]) extends Serializable {
    import org.apache.spark.sql.catalyst.types.PhysicalDataType
    private val hll = new org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper(0.05)
    private val words = hll.numWords
    var rows = 0L
    private val nonNull = new Array[Long](types.length)
    private val registers = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array.fill[Any](types.length * words)(0L))
    private val lo, hi = new Array[Any](types.length)
    @transient private lazy val orderings = types.map(PhysicalDataType.ordering)

    def add(r: org.apache.spark.sql.catalyst.InternalRow, ordinals: Array[Int]): Unit = {
      rows += 1
      var i = 0
      while (i < types.length) {
        if (!r.isNullAt(ordinals(i))) {
          val v = r.get(ordinals(i), types(i))
          nonNull(i) += 1
          hll.update(registers, i * words, v, types(i))
          if (ranged(i)) keep(i, v, v)
        }
        i += 1
      }
    }

    /** Widen column `i`'s range by [vlo, vhi]; a tie keeps the value
      * already held. */
    private def keep(i: Int, vlo: Any, vhi: Any): Unit = {
      if (lo(i) == null || orderings(i).lt(vlo, lo(i))) lo(i) = vlo
      if (hi(i) == null || orderings(i).gt(vhi, hi(i))) hi(i) = vhi
    }

    def merge(o: BucketStats): BucketStats = {
      rows += o.rows
      for (i <- types.indices) {
        nonNull(i) += o.nonNull(i)
        hll.merge(registers, o.registers, i * words, i * words)
        if (o.lo(i) != null) keep(i, o.lo(i), o.hi(i))
      }
      this
    }

    def record(i: Int): ColStatRec =
      ColStatRec(rows - nonNull(i), Some(hll.query(registers, i * words)),
        Option(lo(i)).map(_.toString), Option(hi(i)).map(_.toString))
  }

  /** Delete every `_bucket=*` / `_writer=<id>` directory under the store —
    * run before a batch's parts write so stale dirs from an earlier run
    * of the same id (different inputs) can't leak into the manifest via
    * [[listWrittenBuckets]]. nBuckets-bounded FS metadata work. */
  private def purgeWriterDirs(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      id: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(partsPath(storePath))
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_bucket="))
      .foreach { st =>
        val wd = new org.apache.hadoop.fs.Path(st.getPath, s"_writer=$id")
        if (fs.exists(wd)) fs.delete(wd, true)
      }
  }

  private def listWrittenBuckets(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      id: Long): Set[Int] = {
    val root = new org.apache.hadoop.fs.Path(partsPath(storePath))
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_bucket="))
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, s"_writer=$id")))
      .map(_.getPath.getName.stripPrefix("_bucket=").toInt)
      .toSet
  }

  /** The deletions the apply performed: keys whose latest record is `D`
    * AND that existed in the snapshot (a delete for an absent key is a
    * no-op, per MERGE semantics). Useful for tombstone audits. */
  def deletedKeys(
      snapshot: DataFrame,
      changelog: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      opCol: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    val latestD = changelog
      .withColumn("__op", upper(opCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "D")
      .select(keys.map(col): _*)
    snapshot.select(keys.map(col): _*).join(latestD, keys, "left_semi")
  }
}

/** A CAS batch commit ([[Cdc.processPartitionedBatch]] with
  * `casCommit = true`) lost the race for its version id: another writer
  * committed `v=<id>` first. RETRYABLE — the loser's staging and parts
  * dirs are already cleaned up; re-read the latest committed version,
  * mint the next id, and re-apply the batch. */
class ConcurrentCdcWriteException(msg: String) extends RuntimeException(msg)
