package graft.sources.sharded

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{
  BatchWrite,
  DataWriter,
  DataWriterFactory,
  LogicalWriteInfo,
  PhysicalWriteInfo,
  Write,
  WriteBuilder,
  WriterCommitMessage
}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory,
  StreamingWrite
}
import org.apache.spark.sql.types.StructType

import graft.sources.SessionHadoopConf

/** WRITE side of the sharded connector (A9 on the DSv2 API) — the same
  * `path/shard=N/<file>` layout [[ShardedStreamProvider]] reads, so the
  * connector round-trips: `df.write.format(provider).mode("append")` then
  * `spark.read[Stream].format(provider)` replays exactly what was
  * committed, per shard, in file order.
  *
  * Commit protocol (the classic two-phase rename, as in Hadoop/Spark file
  * committers — executors never publish directly):
  *
  *  1. each task writes its rows, grouped by the `shard` column, to
  *     `path/_tmp/<writeId>/` under DETERMINISTIC names derived from
  *     (epoch, partitionId, shard) — a retried/speculative attempt
  *     overwrites its predecessor's temp file instead of duplicating it;
  *  2. the task's commit message lists (tmp, shard, finalName);
  *  3. the DRIVER commit moves every listed tmp into its `shard=N/` dir
  *     (delete-then-rename: re-delivered epochs are idempotent, the
  *     exactly-once half of streaming `foreachBatch` semantics) and
  *     removes the write's temp dir; abort removes the temp dir without
  *     publishing anything.
  *
  * Readers only ever see fully-written files (rename is atomic per file
  * on a real FS), and the source's append-only contract is preserved:
  * committed files are never rewritten, only added.
  *
  * The `seq` column is accepted and IGNORED on write: sequence numbers
  * are assigned by the transport on READ from file order (ShardBackend's
  * contract) — exactly like Kinesis, where the producer does not pick
  * sequence numbers. Streaming epochs embed the epoch id in the final
  * file name, so a replayed micro-batch republishes the same files. */
class ShardedWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new ShardedWrite(path, info.queryId(), info.schema())
}

class ShardedWrite(path: String, queryId: String, schema: StructType) extends Write {
  private def ord(name: String): Int = schema.fieldIndex(name)
  // Captured here (driver-side, at write build) because DataWriterFactory
  // ships to executors.
  private val confMap: Map[String, String] = SessionHadoopConf.capture()
  override def toBatch: BatchWrite =
    new ShardedBatchWrite(path, queryId, ord("shard"), ord("payload"), confMap)
  override def toStreaming: StreamingWrite =
    new ShardedStreamingWrite(path, queryId, ord("shard"), ord("payload"), confMap)
}

case class ShardedCommitMessage(files: Seq[(String, Int, String)]) extends WriterCommitMessage

object ShardedCommit {
  private def fs(path: String, confMap: Map[String, String]) =
    new Path(path).getFileSystem(SessionHadoopConf.toConf(confMap))

  def commit(root: String, writeId: String, messages: Array[WriterCommitMessage],
      confMap: Map[String, String]): Unit = {
    val f = fs(root, confMap)
    messages.foreach {
      case ShardedCommitMessage(files) =>
        files.foreach { case (tmp, shard, finalName) =>
          val dir = new Path(root, s"shard=$shard")
          f.mkdirs(dir)
          val target = new Path(dir, finalName)
          if (f.exists(target)) f.delete(target, false) // idempotent epoch replay
          if (!f.rename(new Path(tmp), target))
            throw new java.io.IOException(s"commit rename failed: $tmp -> $target")
        }
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }
    f.delete(new Path(root, s"_tmp/$writeId"), true)
  }

  def abort(root: String, writeId: String, confMap: Map[String, String]): Unit =
    fs(root, confMap).delete(new Path(root, s"_tmp/$writeId"), true)
}

/** Serializable, self-contained factory — shipped to executors, so it
  * must not capture the driver-side Write objects. */
case class ShardedWriterFactory(path: String, writeId: String, shardOrd: Int, payloadOrd: Int,
    confMap: Map[String, String])
    extends DataWriterFactory
    with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardedDataWriter(path, writeId, epoch = -1L, partitionId, taskId, shardOrd, payloadOrd, confMap)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ShardedDataWriter(path, writeId, epochId, partitionId, taskId, shardOrd, payloadOrd, confMap)
}

class ShardedBatchWrite(path: String, writeId: String, shardOrd: Int, payloadOrd: Int,
    confMap: Map[String, String] = Map.empty)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ShardedWriterFactory(path, writeId, shardOrd, payloadOrd, confMap)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ShardedCommit.commit(path, writeId, messages, confMap)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ShardedCommit.abort(path, writeId, confMap)
}

class ShardedStreamingWrite(path: String, writeId: String, shardOrd: Int, payloadOrd: Int,
    confMap: Map[String, String] = Map.empty)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ShardedWriterFactory(path, writeId, shardOrd, payloadOrd, confMap)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ShardedCommit.commit(path, writeId, messages, confMap)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ShardedCommit.abort(path, writeId, confMap)
}

/** Executor-side writer: one open temp stream per shard seen by this task
  * (bounded by the shard count, not the row count), JSONL payload lines.
  * The FINAL name is deterministic per (writeId, epoch, partition) so a
  * replayed epoch republishes (overwrites) the same files; the TEMP name
  * additionally carries the task-attempt id (`taskId` is unique per
  * attempt), because two attempts of the same task can run CONCURRENTLY
  * (speculation, or a zombie attempt still writing while its retry runs)
  * and a shared deterministic temp name would let them interleave bytes
  * in one file. Each attempt writes its own temp; the driver commit
  * renames only the tmp paths listed by the attempt whose commit message
  * Spark accepted, and abort sweeps the write's whole temp dir. */
class ShardedDataWriter(
    root: String,
    writeId: String,
    epoch: Long,
    partitionId: Int,
    taskId: Long,
    shardOrd: Int,
    payloadOrd: Int,
    confMap: Map[String, String] = Map.empty
) extends DataWriter[InternalRow] {
  private val tmpDir  = new Path(root, s"_tmp/$writeId")
  private val fsys    = tmpDir.getFileSystem(SessionHadoopConf.toConf(confMap))
  private val writers = scala.collection.mutable.Map.empty[Int, java.io.Writer]
  private val files   = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]

  private def writerFor(shard: Int): java.io.Writer =
    writers.getOrElseUpdate(shard, {
      fsys.mkdirs(tmpDir)
      // writeId (the query id) in the FINAL name: two different writes
      // must not collide, while a retry/replay of the SAME
      // (write, epoch, partition) overwrites — both halves of the
      // idempotence contract.
      val finalName = s"part-$writeId-e$epoch-p$partitionId.jsonl"
      val tmp       = new Path(tmpDir, s"e$epoch-p$partitionId-t$taskId-shard=$shard.jsonl")
      files += ((tmp.toString, shard, finalName))
      new java.io.OutputStreamWriter(fsys.create(tmp, true), "UTF-8")
    })

  override def write(row: InternalRow): Unit = {
    val shard   = row.getInt(shardOrd)
    val payload = if (row.isNullAt(payloadOrd)) "" else row.getUTF8String(payloadOrd).toString
    // JSONL frames records by '\n'; an embedded newline would silently
    // split one payload into several records on read-back and break the
    // connector's write→read round-trip. Fail the task loudly instead —
    // valid single-line JSON (the contract) never contains a raw newline.
    if (payload.indexOf('\n') >= 0 || payload.indexOf('\r') >= 0)
      throw new IllegalArgumentException(
        s"sharded sink payload contains an embedded newline (shard=$shard); " +
          "JSONL framing requires one-line payloads — escape as \\n/\\r in the JSON")
    val w = writerFor(shard)
    w.write(payload)
    w.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    ShardedCommitMessage(files.toSeq)
  }

  override def abort(): Unit = writers.values.foreach { w =>
    try w.close() catch { case _: Exception => () }
  }

  override def close(): Unit = ()
}
