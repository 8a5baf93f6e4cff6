package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.sources.{FileStats, Snapshots}

/** One parquet file a write task closed, with the manifest statistics
  * of its footer ([[graft.sources.FileStats.statsOfOneFooter]]; `Nil`
  * = no stats, which only ever keeps the file in pruning). */
private[graft] final case class WrittenFile(path: String,
    stats: Seq[(String, Char, String, String)])

/** The one parquet writer of the snapshot lake. Every commit kind
  * (`Snapshots.commitAppend`, `commitReplace`, `commitDelete`,
  * `commitMerge`, the layout rewrites) and every DSv2 write (`INSERT`,
  * `INSERT OVERWRITE`, the streaming sink, row-level `UPDATE`/`MERGE`)
  * writes through it. Contracts:
  *  - files are Spark's own parquet output: the factory is
  *    `ParquetFileFormat.prepareWrite` under the session's parquet write
  *    settings, so any type `df.write.parquet` writes is written, with
  *    the same bytes;
  *  - a task writes one file under a commit-private directory, named
  *    `part-<partition>-<uuid>` per task attempt, and there is no
  *    committer rename: the manifest publish is the commit point, and a
  *    file no published manifest lists is invisible;
  *  - a task returns its file with the stats of the footer it just
  *    closed, so no commit re-reads footers or lists directories;
  *  - a task opens its file at its first row; [[FileTask.open]] forces
  *    an empty file (the schema-only file of an empty DataFrame
  *    commit). Built on the driver; serializable to executors. */
private[graft] final class SnapshotFileWriter private (dir: String,
    schema: StructType, factory: OutputWriterFactory,
    confEntries: Array[(String, String)]) extends Serializable {

  /** Executor side: the file task `partitionId` writes under `dir` (or
    * its subdirectory `sub`). */
  def task(partitionId: Int, sub: String = ""): FileTask =
    new FileTask(if (sub.isEmpty) dir else s"$dir/$sub", partitionId)

  /** Executor side: write `rows` as one task of a DataFrame commit and
    * return its file. `always` writes the file even when `rows` is
    * empty. */
  def write(partitionId: Int, rows: Iterator[InternalRow],
      always: Boolean): Option[WrittenFile] = {
    val t = task(partitionId)
    try {
      if (always) t.open()
      rows.foreach(t.write)
      t.commit()
    } catch { case e: Throwable => t.abort(); throw e }
  }

  final class FileTask private[SnapshotFileWriter] (dir: String, partitionId: Int) {
    private var out: OutputWriter = _

    def open(): Unit = if (out == null) {
      val ctx = new TaskAttemptContextImpl(SnapshotReaderFactory.mapToConf(confEntries),
        new TaskAttemptID("snapshot", 0, TaskType.MAP, partitionId, 0))
      val name = f"part-$partitionId%05d-${java.util.UUID.randomUUID.toString.take(8)}" +
        factory.getFileExtension(ctx)
      out = factory.newInstance(new Path(dir, name).toString, schema, ctx)
    }

    def write(row: InternalRow): Unit = { open(); out.write(row) }

    /** Close the file and return it with its stats; None when no row
      * opened one. */
    def commit(): Option[WrittenFile] = Option(out).map { o =>
      o.close()
      WrittenFile(o.path, FileStats.statsOfOneFooter(o.path, confEntries))
    }

    def abort(): Unit = if (out != null) {
      try out.close()
      finally {
        val p = new Path(out.path)
        p.getFileSystem(SnapshotReaderFactory.mapToConf(confEntries)).delete(p, false)
      }
    }
  }
}

private[graft] object SnapshotFileWriter {
  /** Driver side: the writer of rows of `schema` into the directory
    * `dir` (qualified here) under `spark`'s parquet write settings, as
    * `df.write.parquet` prepares it. */
  def apply(spark: SparkSession, dir: String, schema: StructType): SnapshotFileWriter = {
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val path = new Path(dir)
    new SnapshotFileWriter(path.getFileSystem(job.getConfiguration).makeQualified(path).toString,
      schema, factory, SnapshotReaderFactory.confToMap(job.getConfiguration))
  }
}

/** The DSv2 write of the snapshot lake. `INSERT INTO` /
  * `df.writeTo(...).append()` publish an append commit, `INSERT
  * OVERWRITE` (`SupportsTruncate`) one replace commit listing only the
  * new files, and `df.writeStream.toTable(...)` one append commit per
  * epoch. Tasks write through [[SnapshotFileWriter]] under one
  * commit-private directory; the driver's commit publishes the files the
  * tasks returned through the claim-serialized, schema-checked
  * `Snapshots.commit*Files`, and `abort` deletes the directory. An empty
  * write (no task wrote a row) publishes no version; an empty `INSERT
  * OVERWRITE` publishes an empty replace. Spark has resolved and cast
  * the rows to the table schema before the write plans, so every type
  * the table holds is written. */
private[v2] class SnapshotWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    private val schema = info.schema()
    override def toBatch: BatchWrite =
      new SnapshotBatchWrite(root, schema)({ files =>
        val spark = SparkSession.active
        if (replace) Snapshots.commitReplaceFiles(spark, root, files, schema)
        else if (files.nonEmpty) Snapshots.commitAppendFiles(spark, root, files, schema)
      })
    /** Each epoch is one append commit whose idempotence marker (a `T`
      * manifest entry keyed by the stream's query id and epoch) is
      * atomic with its files, so a checkpoint replay re-commits
      * nothing. Append output mode only. */
    override def toStreaming: StreamingWrite = {
      require(!replace,
        "snapshot streaming sink is APPEND-only (one commit per epoch); " +
          "Complete/truncate modes would replace the table every trigger")
      new SnapshotStreamingWrite(root, schema, info.queryId())
    }
  }
}

/** What every DSv2 snapshot write shares: the commit-private directory
  * minted on the driver, the writer factory over it, and the files the
  * committed tasks returned. `opColumn`: rows lead with Spark's
  * `__row_operation` (a row-level `ReplaceData` write). */
private[v2] abstract class SnapshotDsv2Write(root: String, schema: StructType,
    opColumn: Boolean) {
  protected val commitDir =
    s"$root/data/c-${java.util.UUID.randomUUID.toString.take(8)}"

  protected def factory: SnapshotDataWriterFactory =
    new SnapshotDataWriterFactory(
      SnapshotFileWriter(SparkSession.active, commitDir, schema), schema, opColumn)

  protected def files(messages: Array[WriterCommitMessage]): Seq[WrittenFile] =
    messages.toSeq.flatMap {
      case SnapshotWriteMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected message $other")
    }.sortBy(_.path)

  protected def delete(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** A batch write: `publish` commits the written files on the driver. */
private[v2] class SnapshotBatchWrite(root: String, schema: StructType,
    opColumn: Boolean = false)(publish: Seq[WrittenFile] => Unit)
    extends SnapshotDsv2Write(root, schema, opColumn) with BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = publish(files(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit = delete(commitDir)
}

/** The streaming sink: each epoch's files nest under `e<epoch>/`, so an
  * abort reclaims exactly its own attempt. */
private[v2] class SnapshotStreamingWrite(root: String, schema: StructType,
    queryId: String) extends SnapshotDsv2Write(root, schema, false) with StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = factory

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = files(messages)
    // a replayed empty epoch is still empty: idempotent without a marker
    if (fs.nonEmpty)
      Snapshots.commitAppendFilesOnce(SparkSession.active, root, fs, schema,
        s"sq-$queryId-e$epochId")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    delete(s"$commitDir/e$epochId")
}

private[v2] case class SnapshotWriteMessage(files: Seq[WrittenFile])
    extends WriterCommitMessage

/** Executor side of every DSv2 snapshot write: each task writes its rows
  * through one [[SnapshotFileWriter]] task and returns the file it
  * closed (none when it saw no row).
  *
  * With `opColumn`, rows are Spark's group-based `ReplaceData` layout
  * for a connector that declares no metadata columns: a leading
  * `__row_operation` INT (WRITE=5 / WRITE_WITH_METADATA=6; deleted rows
  * are filtered out before the write) followed by the data columns. The
  * operation value is checked, so a layout change fails loudly rather
  * than shifting columns. */
private[v2] class SnapshotDataWriterFactory(writer: SnapshotFileWriter,
    schema: StructType, opColumn: Boolean)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    dataWriter(writer.task(partitionId))

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    dataWriter(writer.task(partitionId, s"e$epochId"))

  private def dataWriter(task: SnapshotFileWriter#FileTask): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val data =
        if (opColumn) ProjectingInternalRow(schema, 1 to schema.length) else null

      override def write(row: InternalRow): Unit =
        if (!opColumn) task.write(row)
        else {
          require(row.numFields == schema.length + 1,
            s"row-level write expected [__row_operation | ${schema.length} columns], " +
              s"got ${row.numFields} fields")
          val op = row.getInt(0)
          require(op == 5 || op == 6, s"unexpected row operation $op in a replace write")
          data.project(row)
          task.write(data)
        }

      override def commit(): WriterCommitMessage = SnapshotWriteMessage(task.commit().toSeq)
      override def abort(): Unit = task.abort()
      override def close(): Unit = ()
    }
}
