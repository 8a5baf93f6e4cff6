package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._

import graft.sources.Snapshots

/** The DSv2 WRITE path of the snapshot lake (round 13): `INSERT INTO`
  * / `INSERT OVERWRITE` / `df.writeTo(...).append()` land as ordinary
  * snapshot commits —
  *
  *  - executors write parquet files under a commit-PRIVATE directory
  *    (`data/c-<uuid>/`), one file per non-empty input partition,
  *    invisible to every reader until the manifest publishes;
  *  - the driver's `BatchWrite.commit` runs the claim-serialized
  *    publish ([[graft.sources.Snapshots.commitAppendFiles]] /
  *    `commitReplaceFiles`): stats footer pass, tracked-schema check,
  *    atomic manifest visibility — so a SQL INSERT is exactly-once
  *    atomic under concurrent writers with NO new machinery (the
  *    commit protocol is the arbiter; a racing writer just rebases);
  *  - `abort` deletes the attempt's files; a failed/speculative task's
  *    stray file that never reached a commit message is simply never
  *    referenced by any manifest (invisible; an orphan-file sweep is
  *    the separate maintenance op, as in Iceberg).
  *
  * INSERT OVERWRITE maps to the REPLACE commit (`SupportsTruncate`):
  * one atomic version listing only the new files — readers see the old
  * table or the new one, never a mix. Scope: the table's primitive
  * column set (the same six types the read path serves); Spark has
  * already resolved and cast the input to the table schema by the time
  * the write plans. */
private[v2] class SnapshotWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new SnapshotBatchWrite(root, info.schema(), replace)
    /** STREAMING sink (round 14): `df.writeStream.toTable("snap.`root`")`
      * — each micro-batch lands as ONE append commit whose idempotence
      * marker (`T` manifest entry, keyed by the stream's stable query id
      * + epoch) is atomic WITH the files, so a checkpoint replay after a
      * crash re-commits nothing: exactly-once with no marker-vs-commit
      * window. Append output mode only — Complete (truncate-per-epoch)
      * would re-replace the table every trigger, which is a batch
      * INSERT OVERWRITE concern, refused loudly. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!replace,
        "snapshot streaming sink is APPEND-only (one commit per epoch); " +
          "Complete/truncate modes would replace the table every trigger")
      new SnapshotStreamingWrite(root, info.schema(), info.queryId())
    }
  }
}

/** One streaming epoch = one atomic, idempotent append commit. The
  * commit-private directory is minted per STREAMING WRITE (driver);
  * each epoch's files nest under `e<epoch>/` so an abort can reclaim
  * exactly its own attempt. */
private[v2] class SnapshotStreamingWrite(root: String,
    schema: org.apache.spark.sql.types.StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val commitDir =
    s"$root/data/c-${java.util.UUID.randomUUID.toString.take(8)}"
  private val cols = schema.fields.map(f => (f.name, f.dataType.sql, f.nullable))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new SnapshotStreamingDataWriterFactory(commitDir, cols,
      SnapshotReaderFactory.confToMap(
        SparkSession.active.sessionState.newHadoopConf()))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.flatMap {
      case SnapshotWriteMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected message $other")
    }.sorted.toSeq
    // an empty epoch publishes nothing — a replayed empty epoch is
    // still empty, so idempotence holds without a marker
    if (files.nonEmpty)
      Snapshots.commitAppendFilesOnce(spark, root, files, schema,
        s"sq-$queryId-e$epochId")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(s"$commitDir/e$epochId")
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }
}

private[v2] class SnapshotStreamingDataWriterFactory(commitDir: String,
    cols: Array[(String, String, Boolean)],
    confEntries: Array[(String, String)])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriterFactory(s"$commitDir/e$epochId", cols, confEntries)
      .createWriter(partitionId, taskId)
}

private[v2] case class SnapshotWriteMessage(files: Seq[String])
    extends WriterCommitMessage

private[v2] class SnapshotBatchWrite(root: String, schema: StructType,
    replace: Boolean) extends BatchWrite {
  // ONE commit-private dir for the whole write, minted on the driver —
  // every task writes under it, the publish lists exactly the files
  // the committed tasks reported
  private val commitDir =
    s"$root/data/c-${java.util.UUID.randomUUID.toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotDataWriterFactory(commitDir,
      schema.fields.map(f => (f.name, f.dataType.sql, f.nullable)),
      SnapshotReaderFactory.confToMap(
        SparkSession.active.sessionState.newHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.flatMap {
      case SnapshotWriteMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected message $other")
    }.sorted.toSeq
    if (replace)
      Snapshots.commitReplaceFiles(spark, root, files, schema)
    else if (files.nonEmpty)
      Snapshots.commitAppendFiles(spark, root, files, schema)
    // empty append: nothing to publish — the table is unchanged
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(commitDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true) // commit-private: nothing else lives here
  }
}

private[v2] class SnapshotDataWriterFactory(commitDir: String,
    cols: Array[(String, String, Boolean)],
    confEntries: Array[(String, String)],
    opColumn: Boolean = false) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val path = new Path(commitDir,
        f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID.toString.take(8)}.parquet")
      private val parquetSchema: MessageType = SnapshotDataWriterFactory.toParquet(cols)
      // LAZY: an empty partition writes no file at all (file counts
      // stay meaningful; the commit lists only files that exist)
      private var opened = false
      private lazy val writer = {
        opened = true
        val conf = SnapshotReaderFactory.mapToConf(confEntries)
        GroupWriteSupport.setSchema(parquetSchema, conf)
        ExampleParquetWriter.builder(path)
          .withConf(conf)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .build()
      }
      private lazy val factory = new SimpleGroupFactory(parquetSchema)
      // ROW-LEVEL (ReplaceData) layout: when the connector declares no
      // metadata attributes, Spark's group-based rewrite hands the
      // writer RAW query rows — a leading `__row_operation` INT
      // (WRITE=5 / WRITE_WITH_METADATA=6; never a delete — removed rows
      // are filtered out of the replace query) followed by the data
      // columns. `off` skips it; the op value is asserted so a layout
      // drift in a future engine version fails LOUDLY, never as
      // silently shifted columns.
      private val off = if (opColumn) 1 else 0

      override def write(row: InternalRow): Unit = {
        if (opColumn) {
          require(row.numFields == cols.length + 1,
            s"row-level write expected [__row_operation | ${cols.length} columns], " +
              s"got ${row.numFields} fields")
          val op = row.getInt(0)
          require(op == 5 || op == 6, s"unexpected row operation $op in a replace write")
        }
        val g = factory.newGroup()
        var i = 0
        while (i < cols.length) {
          if (!row.isNullAt(i + off)) cols(i)._2 match {
            case "BIGINT" => g.append(cols(i)._1, row.getLong(i + off))
            case "INT" => g.append(cols(i)._1, row.getInt(i + off))
            case "DOUBLE" => g.append(cols(i)._1, row.getDouble(i + off))
            case "FLOAT" => g.append(cols(i)._1, row.getFloat(i + off))
            case "BOOLEAN" => g.append(cols(i)._1, row.getBoolean(i + off))
            case "STRING" =>
              g.append(cols(i)._1,
                Binary.fromConstantByteArray(row.getUTF8String(i + off).getBytes))
            case "DATE" => g.append(cols(i)._1, row.getInt(i + off))
            case "TIMESTAMP" | "TIMESTAMP_NTZ" =>
              g.append(cols(i)._1, row.getLong(i + off))
            case other => throw new IllegalStateException(
              s"snapshot write supports primitive columns; got $other")
          }
          i += 1
        }
        writer.write(g)
      }

      override def commit(): WriterCommitMessage =
        if (!opened) SnapshotWriteMessage(Nil)
        else { writer.close(); SnapshotWriteMessage(Seq(path.toString)) }

      override def abort(): Unit = if (opened) {
        writer.close()
        val conf = SnapshotReaderFactory.mapToConf(confEntries)
        path.getFileSystem(conf).delete(path, false)
      }

      override def close(): Unit = ()
    }
}

private[v2] object SnapshotDataWriterFactory {
  /** Spark DDL → parquet schema, mirroring what Spark's own parquet
    * writer produces for these types (so footers/stats/readers see the
    * identical physical form either way). */
  def toParquet(cols: Array[(String, String, Boolean)]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { case (name, ddl, nullable) =>
      val rep =
        if (nullable) org.apache.parquet.schema.Type.Repetition.OPTIONAL
        else org.apache.parquet.schema.Type.Repetition.REQUIRED
      val f = ddl match {
        case "BIGINT" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.INT64, rep)
        case "INT" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.INT32, rep)
        case "DOUBLE" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.DOUBLE, rep)
        case "FLOAT" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.FLOAT, rep)
        case "BOOLEAN" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.BOOLEAN, rep)
        case "STRING" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType())
        case "DATE" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType())
        case "TIMESTAMP" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case "TIMESTAMP_NTZ" => Types.primitive(
          PrimitiveType.PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw new IllegalArgumentException(
          s"snapshot write supports primitive columns; column '$name' is $other")
      }
      b.addField(f.named(name))
    }
    b.named("spark_schema")
  }
}
