package graft.sources.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Cdc

/** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` on catalog
  * CDC stores — the DELTA-BASED row-level operation contract
  * ([[SupportsDelta]], the Iceberg merge-on-read shape), which is
  * exactly this store's native language: Spark plans the target scan,
  * evaluates the statement's conditions/assignments, and hands the
  * writer a stream of per-row verdicts (insert/update/delete) keyed by
  * `rowId` = the MERGE KEYS; the writer stages them as CHANGELOG rows
  * (`op` ∈ {U, D}) and `commit` lands ONE new store version through the
  * same touched-bucket MERGE path as every other write.
  *
  * Layering with the metadata path: a DELETE whose predicate pins the
  * keys to a bounded panel still takes [[CdcStoreTable.deleteWhere]]
  * (no target scan at all — Spark's metadata-only-delete optimization
  * asks `canDeleteWhere` first); everything wider lands here and pays
  * exactly one snapshot scan + a touched-bucket write. UPDATEs that
  * MOVE a key (SET on a key column) stage delete(old key) +
  * upsert(new row) — two keys, no same-key recency tie.
  *
  * Scale shape: the target scan is the ordinary bucket-pruned store
  * scan (runtime DPP included, so `MERGE INTO ... USING small_src` only
  * opens the buckets the source's keys hash to); staged delta IO is
  * ∝ the statement's matched rows; the merge write is ∝ touched
  * buckets. Nothing is ever row-by-row against the driver. */
class CdcRowLevelOperation(
    table: CdcStoreTable,
    d: CdcCatalog.StoreDef,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  // the target-matching scan IS the store's ordinary serving scan:
  // column pruning, key-panel bucket pruning, and runtime (DPP) bucket
  // filtering all apply to finding the statement's affected rows
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(table, d)

  /** Row identity = the merge keys: the store's one invariant. */
  override def rowId(): Array[NamedReference] =
    d.keys.map(Expressions.column).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new CdcDeltaWrite(table, d, info)
    }
}

class CdcDeltaWrite(table: CdcStoreTable, d: CdcCatalog.StoreDef, info: LogicalWriteInfo)
    extends DeltaWrite with DeltaBatchWrite {

  private val payload: StructType = table.schema()
  // staged changelog shape: the payload plus the op verdict
  private val stagingSchema: StructType =
    StructType(payload.fields.map(_.copy(nullable = true))
      :+ StructField("_op", StringType, nullable = true))
  private def stagingDir: String = s"${d.storePath}/_staging/rlo_q=${info.queryId()}"

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    new CdcDeltaWriterFactory(
      stagingDir, payload, stagingSchema, info.schema(),
      info.rowIdSchema().orElse(StructType(d.keys.map(k => payload(k)).toArray)),
      d.keys)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      val files = messages.collect { case StagedEpochFile(path, rows) if rows > 0 => path }
      if (files.isEmpty) return // nothing matched: no-op, no version minted
      import org.apache.spark.sql.functions.{col, lit}
      val next = Cdc.manifestVersions(spark, d.storePath).max + 1
      // casCommit: batch DML mints `next` optimistically — a concurrent
      // writer whose touched buckets are DISJOINT rebases inside
      // commitCas (both statements land, consecutive versions); an
      // OVERLAPPING writer makes exactly one winner and the loser throws
      // graft.operators.ConcurrentCdcWriteException. The loser's staged
      // verdicts were computed against the pre-race snapshot, so
      // re-applying them blindly would be write skew — the retry is the
      // STATEMENT's (re-scan, re-stage, re-commit), never the commit's.
      // morCommit (per-store registration): the verdicts land as
      // per-bucket delta files — O(delta) write IO — instead of
      // rewriting every touched bucket.
      val committed = Cdc.processPartitionedBatch(
        spark.read.schema(stagingSchema).parquet(files.toIndexedSeq: _*)
          .withColumn("_seq", lit(next)),
        Cdc.readPartitionedSnapshot(spark, d.storePath).limit(0),
        d.keys, Seq(col("_seq")), col("_op"), d.storePath, d.nBuckets, next,
        casCommit = true, morCommit = d.morDml)
      CdcCatalog.materializeFeed(spark, d.storePath, d.keys, committed)
    } finally dropStaging(spark)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    dropStaging(SparkSession.active)

  private def dropStaging(spark: SparkSession): Unit = {
    val dir = new Path(stagingDir)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }
}

class CdcDeltaWriterFactory(
    stagingDir: String,
    payload: StructType,
    stagingSchema: StructType,
    rowSchema: StructType,
    idSchema: StructType,
    keys: Seq[String])
    extends DeltaWriterFactory {
  private val confMap = graft.sources.SessionHadoopConf.capture()
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new CdcDeltaWriter(
      s"$stagingDir/part-$partitionId-$taskId.parquet",
      payload, stagingSchema, rowSchema, idSchema, keys, confMap)
}

/** Stages each verdict as one changelog row in a per-task parquet file
  * (the [[CdcStagingWriter]] machinery — constant memory, executor-side).
  * Updates whose NEW row carries a different key value than the matched
  * row's id stage as delete(old) + upsert(new): two distinct keys, so
  * the batch's single recency never produces a same-key D/U tie. */
class CdcDeltaWriter(
    path: String,
    payload: StructType,
    stagingSchema: StructType,
    rowSchema: StructType,
    idSchema: StructType,
    keys: Seq[String],
    confMap: Map[String, String])
    extends DeltaWriter[InternalRow] {

  private val out = new CdcStagingWriter(path, stagingSchema, confMap)
  // payload position i ← row position rowPos(i). LAZY: a delete-only
  // statement plans an EMPTY row projection (only ids flow), so this
  // mapping must not resolve unless an insert/update actually arrives.
  private lazy val rowPos: Array[Int] = payload.fields.map(f => rowSchema.fieldIndex(f.name))
  // key k: payload position keyPayloadPos(k) ← id position k
  private val idPos: Array[Int] = keys.toArray.map(idSchema.fieldIndex)
  private val keyPayloadPos: Array[Int] = keys.toArray.map(payload.fieldIndex)
  private val opIdx = stagingSchema.length - 1

  private def staged(fill: GenericInternalRow => Unit, op: String): Unit = {
    val r = new GenericInternalRow(stagingSchema.length)
    fill(r)
    r.update(opIdx, org.apache.spark.unsafe.types.UTF8String.fromString(op))
    out.write(r)
  }

  private def fromRow(row: InternalRow)(r: GenericInternalRow): Unit = {
    var i = 0
    while (i < payload.length) {
      val p = rowPos(i)
      r.update(i, if (row.isNullAt(p)) null else row.get(p, payload.fields(i).dataType))
      i += 1
    }
  }

  private def keysOf(id: InternalRow, from: Array[Int]): Array[Any] =
    keys.indices.toArray.map { k =>
      val p = from(k)
      if (id.isNullAt(p)) null else id.get(p, payload.fields(keyPayloadPos(k)).dataType)
    }

  override def insert(row: InternalRow): Unit = staged(fromRow(row), "U")

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val oldKeys = keysOf(id, idPos)
    val newKeys = keysOf(row, keys.indices.toArray.map(k => rowPos(keyPayloadPos(k))))
    if (oldKeys.sameElements(newKeys)) staged(fromRow(row), "U")
    else { // the UPDATE moved the key: retire the old identity, land the new
      delete(meta, id)
      staged(fromRow(row), "U")
    }
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    staged(r => { // non-key payload stays null: D rows only need identity
      val ks = keysOf(id, idPos)
      keys.indices.foreach(k => r.update(keyPayloadPos(k), ks(k)))
    }, "D")

  override def commit(): WriterCommitMessage = out.commit()
  override def abort(): Unit = out.abort()
  override def close(): Unit = out.close()
}
