package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** PRODUCER side of the [[FileBus]] — the write half of the Kafka
  * contract, as a DataSource V2 sink (batch `BATCH_WRITE` + streaming
  * `STREAMING_WRITE`). The reference's producer is the client pushing
  * framed records over its socket layer (`robust_socket_io.py:16-112`);
  * here it is declarative: `df.write.format(filebus)` /
  * `writeStream.format(filebus)`, swappable for `format("kafka")`
  * unchanged.
  *
  * Write schema: `partition INT, value STRING` (an `offset` column is
  * tolerated and IGNORED — the log assigns offsets, exactly as Kafka's
  * sink ignores a supplied offset). Records are newline-framed, so a
  * value must not contain CR/LF (validated per record at the writer —
  * the same framing contract the source enforces).
  *
  * Two-phase commit, tasks stage / the driver plays the broker:
  *  1. each task writes its records to per-(task, partition) staged
  *     files under `<topic>/.staged/<writeId>/` — records never travel
  *     through the driver, only file PATHS do (the commit message);
  *  2. the driver-side commit appends staged bytes into each `p<i>.log`
  *     in deterministic (taskId, path) order under the source's
  *     per-partition lock, then (streaming) drops an epoch marker at
  *     `<topic>/.commits/<queryId>/<epochId>`.
  *
  * Exactly-once on replay: a restarted streaming query re-commits its
  * last epoch (Spark's contract — `commit(epochId)` must be idempotent);
  * the marker makes the whole epoch a no-op the second time. The
  * `queryId` is the CHECKPOINT-STABLE streaming query id, so the marker
  * survives restarts; the residual window is a crash between the last
  * partition append and the marker write, the same two-phase gap Kafka's
  * transaction coordinator closes with its own commit markers — stated
  * honestly rather than papered over. Batch jobs are not replayed, so
  * batch commit needs no marker. Markers and `.staged` are dot-dirs the
  * source's `partitions()` never lists; marker retention is external,
  * like log retention.
  *
  * Scale: staging is per-task parallel I/O; the driver touches only
  * byte-copies of staged files (the broker role — in a real deployment
  * partition leaders do this append). Admission, offsets, and replay on
  * the READ side are untouched: a consumer sees sink output exactly as
  * producer-appended records.
  */
class FileBusWriteBuilder(dir: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = {
    val schema = info.schema()
    def idx(name: String): Int = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    val pIdx = idx("partition")
    val vIdx = idx("value")
    require(pIdx >= 0 && vIdx >= 0,
      s"filebus write needs 'partition' (int) and 'value' (string) columns, got: ${schema.simpleString}")
    require(schema.fields(pIdx).dataType == IntegerType,
      s"filebus 'partition' must be INT, got ${schema.fields(pIdx).dataType.simpleString}")
    require(schema.fields(vIdx).dataType == StringType,
      s"filebus 'value' must be STRING, got ${schema.fields(vIdx).dataType.simpleString}")
    new FileBusWrite(dir, info.queryId(), pIdx, vIdx)
  }
}

class FileBusWrite(dir: String, queryId: String, pIdx: Int, vIdx: Int) extends Write {
  private val writeId = java.util.UUID.randomUUID.toString
  override def toBatch: BatchWrite = new FileBusBatchWrite(dir, writeId, pIdx, vIdx)
  override def toStreaming: StreamingWrite =
    new FileBusStreamingWrite(dir, queryId, writeId, pIdx, vIdx)
}

/** staged file for one (task, bus-partition): the only thing that
  * travels task -> driver */
case class FileBusStaged(partition: Int, path: String, taskId: Long,
    nRecords: Long) extends WriterCommitMessage

object FileBusSink {
  private[streaming] def stagedDir(dir: String, writeId: String): Path =
    Paths.get(dir, ".staged", writeId)

  /** Append every staged file into its partition log, partitions in
    * index order, files in deterministic (taskId, path) order within a
    * partition. Returns records appended. */
  private[streaming] def appendStaged(dir: String, messages: Array[WriterCommitMessage]): Long = {
    val staged = messages.flatMap {
      case b: FileBusStagedBundle => b.files
      case m: FileBusStaged => Seq(m)
      case _ => Seq.empty
    }
    var n = 0L
    staged.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (p, files) =>
      files.sortBy(f => (f.taskId, f.path)).foreach { f =>
        val bytes = Files.readAllBytes(Paths.get(f.path))
        FileBus.appendRaw(dir, p, bytes, f.nRecords)
        n += f.nRecords
      }
    }
    n
  }

  private[streaming] def deleteStaged(dir: String, writeId: String): Unit = {
    val root = stagedDir(dir, writeId)
    if (!Files.exists(root)) return
    import scala.collection.JavaConverters._
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }
}

class FileBusBatchWrite(dir: String, writeId: String, pIdx: Int, vIdx: Int)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    FileBusWriterFactory(dir, writeId, "batch", pIdx, vIdx)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    FileBusSink.appendStaged(dir, messages)
    FileBusSink.deleteStaged(dir, writeId)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FileBusSink.deleteStaged(dir, writeId)
}

class FileBusStreamingWrite(dir: String, queryId: String, writeId: String,
    pIdx: Int, vIdx: Int) extends StreamingWrite {
  private def marker(epochId: Long): Path =
    Paths.get(dir, ".commits", queryId, epochId.toString)
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    FileBusWriterFactory(dir, writeId, "stream", pIdx, vIdx)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val m = marker(epochId)
    if (Files.exists(m)) { // replayed epoch after restart: exactly-once no-op
      FileBusSink.deleteStaged(dir, writeId)
      return
    }
    FileBusSink.appendStaged(dir, messages)
    Files.createDirectories(m.getParent)
    Files.write(m, Array.emptyByteArray)
    FileBusSink.deleteStaged(dir, writeId)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    FileBusSink.deleteStaged(dir, writeId)
}

/** One factory serves both the batch and streaming write paths; the
  * epoch lands in the staged-file name so concurrent epochs of one
  * query can never collide. */
case class FileBusWriterFactory(dir: String, writeId: String, mode: String,
    pIdx: Int, vIdx: Int) extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FileBusDataWriter(dir, writeId, s"$mode", taskId, pIdx, vIdx)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new FileBusDataWriter(dir, writeId, s"e$epochId", taskId, pIdx, vIdx)
}

class FileBusDataWriter(dir: String, writeId: String, tag: String,
    taskId: Long, pIdx: Int, vIdx: Int) extends DataWriter[InternalRow] {
  private val streams = scala.collection.mutable.Map.empty[Int, (Path, java.io.OutputStream)]
  private val counts = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(pIdx) && !row.isNullAt(vIdx),
      "filebus records must have non-null partition and value")
    val p = row.getInt(pIdx)
    require(p >= 0, s"filebus partition must be >= 0, got $p")
    val v = row.getUTF8String(vIdx).toString
    require(!v.contains('\n') && !v.contains('\r'),
      "records are line-framed: no \\n or \\r inside a record")
    val (_, out) = streams.getOrElseUpdate(p, {
      val d = FileBusSink.stagedDir(dir, writeId)
      Files.createDirectories(d)
      val f = d.resolve(s"$tag-t$taskId-p$p.log")
      (f, new java.io.BufferedOutputStream(Files.newOutputStream(f)))
    })
    out.write(v.getBytes(UTF_8))
    out.write('\n')
    counts(p) += 1
  }

  override def commit(): WriterCommitMessage = {
    streams.values.foreach(_._2.close())
    // one message per staged file; Spark collects them to the driver
    FileBusStagedBundle(streams.toSeq.sortBy(_._1).map { case (p, (path, _)) =>
      FileBusStaged(p, path.toString, taskId, counts(p))
    })
  }

  override def abort(): Unit = {
    streams.values.foreach { case (path, out) =>
      out.close(); Files.deleteIfExists(path)
    }
  }

  override def close(): Unit = ()
}

/** a task's staged files, as one commit message */
case class FileBusStagedBundle(files: Seq[FileBusStaged]) extends WriterCommitMessage
