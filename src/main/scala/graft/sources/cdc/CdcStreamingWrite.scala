package graft.sources.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.operators.Cdc
import graft.sources.SessionHadoopConf

/** `df.writeStream.toTable("graft.x")` — STREAMING keyed upsert into a
  * catalog CDC store: every micro-batch commits exactly ONE new store
  * version through the same touched-bucket MERGE path as the batch
  * `INSERT INTO` (each row a full-payload `op=U` record at recency = the
  * new version), so a stream of events maintains the store continuously
  * and downstream consumers read it like any other version history
  * (snapshots, time travel, `changesBetween`, point lookups).
  *
  * EXACTLY-ONCE is the store's own replay idempotence, no extra
  * transaction log: the version id is `base + epochId`, where `base` is
  * pinned ONCE per streaming query in a tiny sidecar
  * (`storePath/_streams/q=<queryId>` — written BEFORE the first commit,
  * so the mapping exists whenever any version does). Spark replays a
  * failed epoch under the SAME epochId; it resolves to the SAME version
  * id, and either that version is already committed (skip — the work is
  * done) or [[Cdc.processPartitionedBatch]] rewrites it idempotently.
  * A per-epoch INTENT marker (written before the merge, pruned as epochs
  * advance) is what entitles the skip: a committed version WITHOUT this
  * stream's intent means another writer took the slot — loud, below.
  *
  * SCALE SHAPE: executors stream rows straight to per-task parquet
  * staging files (constant memory — no buffering, no driver collect);
  * `commit(epoch)` runs the distributed MERGE over exactly those staged
  * files and deletes them after the manifest commit. Staging IO is
  * ∝ the epoch's data; merge IO is ∝ touched buckets — the same
  * contract as every other write into the store.
  *
  * SINGLE WRITER (the store's standing maintenance contract): one
  * streaming query owns the store's version line while it runs. An
  * interleaved writer moves `max(version)` past the stream's next slot
  * and the commit fails LOUDLY (never silently skips as a replay).
  *
  * Supports `outputMode(Update)` as upsert-append (the Kafka-sink
  * convention): an updated aggregate row is exactly a keyed upsert here,
  * so streaming aggregations maintain per-key results in the store. */
class CdcStreamingWrite(
    tableName: String,
    d0: CdcCatalog.StoreDef,
    writeSchema: StructType,
    queryId: String)
    extends StreamingWrite {

  import CdcStreamingWrite._

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CdcStagingWriterFactory(d0.storePath, queryId, writeSchema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // Re-resolve the LIVE registration each epoch BY STORE PATH (the
    // store's real identity — a display-name parse would break on table
    // names containing dots): the layout may have evolved while the
    // stream runs (CdcCatalog.split updates live registrations in
    // lockstep) — committing with the StoreDef captured at query start
    // would trip the nBuckets layout guard on every epoch after a split
    // until a manual restart. A vanished registration keeps the captured
    // def. Key RENAMES still need a restart — the stream's incoming
    // schema is fixed at query start and the payload check refuses
    // loudly.
    val d = CdcCatalog.liveDefForPath(d0.storePath, Some(d0)).getOrElse(d0)
    val committed = Cdc.manifestVersions(spark, d.storePath)
    require(committed.nonEmpty,
      s"$tableName has no committed version — streaming writes maintain an EXISTING " +
        "store (seed it with processPartitionedBatch or buildCdcStore first)")
    var version = baseFor(spark, d.storePath, queryId, epochId, committed.max) + epochId
    // The intent marker separates REPLAY from INTRUSION when the version
    // is already committed: a replayed epoch wrote its intent before the
    // first attempt's merge; an interleaved writer that landed on exactly
    // this slot did not — that must fail LOUDLY, never skip as a replay.
    val replayed = hasIntent(spark, d.storePath, queryId, epochId)
    // OWN commit = non-CAS at our slot: batch DML (CAS) commits are
    // provable on disk ([[Cdc.isCasCommit]]), so a slot occupied by DML
    // can never masquerade as this stream's replay (without this check,
    // a crash between intent and commit followed by a DML taking the
    // slot would SKIP the epoch on replay and silently drop its data).
    val ownAtSlot = committed.contains(version) && !Cdc.isCasCommit(spark, d.storePath, version)
    if (!ownAtSlot || !replayed) {
      if (committed.max >= version) {
        // the version line moved under the stream. DML COEXISTENCE: when
        // EVERY foreign commit at/past our slot is a batch-DML (CAS)
        // commit, the store is still singly-maintained — catalog DML ran
        // between epochs (or stole a crashed epoch's slot) — so RE-PIN
        // the query's base past them and keep going. Any non-CAS foreign
        // commit is another maintainer (a second stream / bare
        // maintenance calls): that stays the loud single-maintainer
        // error, exactly as before.
        val foreign = committed.filter(_ >= version)
        require(foreign.forall(v => Cdc.isCasCommit(spark, d.storePath, v)),
          s"$tableName version line moved: this stream's epoch $epochId maps to " +
            s"version $version but versions ${foreign.sorted.mkString(",")} were " +
            "committed by another MAINTAINER (non-DML commits without this stream's " +
            "intent) — a store has ONE maintainer at a time")
        repinBase(spark, d.storePath, queryId)
        version = baseFor(spark, d.storePath, queryId, epochId, committed.max) + epochId
      }
      recordIntent(spark, d.storePath, queryId, epochId)
      val files = messages.collect { case StagedEpochFile(path, rows) if rows > 0 => path }
      import org.apache.spark.sql.functions.{col, lit}
      val batch =
        if (files.isEmpty) // empty epoch: commit an empty version so the
          // version line stays one-per-epoch (carry-everything manifest)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], writeSchema)
        else spark.read.schema(writeSchema).parquet(files.toIndexedSeq: _*)
      // a morDml-registered store commits streaming epochs as per-bucket
      // DELTA files too (write IO O(epoch delta), depth-bounded inline
      // auto-compaction) — the same registration flag that makes its
      // batch DML merge-on-read governs its streaming maintenance
      Cdc.processPartitionedBatch(
        batch.withColumn("_seq", lit(version)).withColumn("_op", lit("U")),
        Cdc.readPartitionedSnapshot(spark, d.storePath).limit(0),
        d.keys, Seq(col("_seq")), col("_op"), d.storePath, d.nBuckets, version,
        morCommit = d.morDml)
    }
    // MULTI-HOP (medallion) contract: if this store has a registered feed
    // table, materialize THIS version's CDF there — manifest-diff pruned,
    // same as the maintenance side — so downstream readStream.table
    // consumers keep tailing stores this sink maintains. Every version
    // gets a feed entry (empty included: the tail's gap detection needs
    // the version line contiguous); the overwrite is replay-idempotent,
    // and a crash between the store commit and this write heals on the
    // replay's skip path (which still re-runs this materialization).
    CdcCatalog.materializeFeed(spark, d.storePath, d.keys, version)
    dropStaging(spark, d.storePath, queryId, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropStaging(SparkSession.active, d0.storePath, queryId, epochId)
}

object CdcStreamingWrite {

  private[cdc] def stagingDir(storePath: String, queryId: String, epochId: Long): String =
    s"$storePath/_staging/q=$queryId/e=$epochId"

  /** The query's pinned version base: `version = base + epochId`. Written
    * once, BEFORE the first commit it governs, via temp-file + atomic
    * rename — a replay of that first epoch reads the same base back and
    * lands on the same version. Keyed by the streaming query's STABLE id
    * (checkpoint metadata), so restarts keep the mapping; a fresh
    * checkpoint is a new query id and pins a new base past the versions
    * the old run committed. */
  private def baseFor(
      spark: SparkSession, storePath: String, queryId: String,
      epochId: Long, maxCommitted: Long): Long = {
    val file = new Path(s"$storePath/_streams/q=$queryId")
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(file)) Cdc.readUtf8(fs, file).trim.toLong
    else {
      val base = maxCommitted + 1 - epochId
      val tmp = new Path(s"$storePath/_streams/.q=$queryId.tmp")
      Cdc.writeUtf8(fs, tmp, base.toString)
      if (!fs.rename(tmp, file)) { // lost a (same-driver) race: trust the winner
        fs.delete(tmp, false)
        require(fs.exists(file), s"failed to pin stream base at $file")
        return baseFor(spark, storePath, queryId, epochId, maxCommitted)
      }
      base
    }
  }

  /** Drop the query's pinned base so the next [[baseFor]] re-derives it
    * from the CURRENT newest committed version — shifting every future
    * epoch's slot past foreign DML commits. Crash-safe: a crash after
    * the delete re-derives the identical base on replay (same
    * `maxCommitted`, same epochId), and only the NEWEST epoch ever
    * replays, so the shifted mapping can't reinterpret history. */
  private def repinBase(spark: SparkSession, storePath: String, queryId: String): Unit = {
    val file = new Path(s"$storePath/_streams/q=$queryId")
    file.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(file, false)
  }

  /** Per-epoch intent marker, created BEFORE the epoch's merge: its
    * existence is what lets a replayed commit recognize its own committed
    * version (skip) while an interleaved writer's version on the same
    * slot stays a loud error. Only the newest epoch can replay, so older
    * intents are pruned as each new one lands — bounded metadata. */
  private def intentDir(storePath: String, queryId: String) =
    new Path(s"$storePath/_streams/intents_q=$queryId")

  private def hasIntent(
      spark: SparkSession, storePath: String, queryId: String, epochId: Long): Boolean = {
    val dir = intentDir(storePath, queryId)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(dir, s"e=$epochId"))
  }

  private def recordIntent(
      spark: SparkSession, storePath: String, queryId: String, epochId: Long): Unit = {
    val dir = intentDir(storePath, queryId)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(dir, s"e=$epochId"), true).close()
    fs.listStatus(dir).foreach { st =>
      val e = st.getPath.getName.stripPrefix("e=")
      if (e.forall(_.isDigit) && e.toLong < epochId) fs.delete(st.getPath, false)
    }
  }

  private def dropStaging(
      spark: SparkSession, storePath: String, queryId: String, epochId: Long): Unit = {
    val dir = new Path(stagingDir(storePath, queryId, epochId))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
  }

}

/** One parquet staging file per (partition, task attempt); the task id
  * keys the name, so a speculative or retried attempt writes its own
  * file and only the attempt whose commit message reaches the driver
  * contributes to the merge. */
class CdcStagingWriterFactory(storePath: String, queryId: String, schema: StructType)
    extends StreamingDataWriterFactory {
  private val confMap = SessionHadoopConf.capture()
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CdcStagingWriter(
      s"${CdcStreamingWrite.stagingDir(storePath, queryId, epochId)}/part-$partitionId-$taskId.parquet",
      schema, confMap)
}

case class StagedEpochFile(path: String, rows: Long) extends WriterCommitMessage

/** Streams rows straight to one parquet staging file — opened lazily on
  * the first row (an empty partition stages nothing), constant memory
  * beyond parquet's own page buffers. Encoding is Spark's OWN
  * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
  * consuming `InternalRow` directly — no per-value Group boxing, the
  * same writer Spark's parquet sink runs (the write twin of
  * [[CdcColumnarReader]]'s vectorized read path). */
class CdcStagingWriter(path: String, schema: StructType, confMap: Map[String, String])
    extends DataWriter[InternalRow] {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      // executor-side, with the session's Hadoop conf (same as the
      // reader). The write-support confs mirror Spark's own parquet sink:
      // modern (non-legacy) layout, micros timestamps, CORRECTED rebase —
      // the exact physical shapes CdcColumnarReader and spark.read decode.
      val conf = SessionHadoopConf.toConf(confMap)
      org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
        .setSchema(schema, conf)
      val sql = org.apache.spark.sql.internal.SQLConf
      conf.set(sql.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      conf.set(sql.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      conf.set(sql.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
      conf.set(sql.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
      conf.set(sql.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
      conf.set(sql.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
      writer = new CdcStagingWriter.InternalRowWriterBuilder(new Path(path))
        .withConf(conf).build()
    }
    writer.write(row)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    StagedEpochFile(path, rows)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    new Path(path).getFileSystem(SessionHadoopConf.toConf(confMap)).delete(new Path(path), false)
  }

  override def close(): Unit = ()
}

object CdcStagingWriter {
  /** Parquet's builder hook for a custom WriteSupport: hands back
    * Spark's InternalRow write support, configured via the conf set
    * above (builders are the supported extension point — no reflection,
    * no example API). */
  private class InternalRowWriterBuilder(path: Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, InternalRowWriterBuilder](path) {
    override def self(): InternalRowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
  }
}
