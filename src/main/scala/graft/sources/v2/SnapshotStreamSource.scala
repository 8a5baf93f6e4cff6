package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Manifest, ParquetFooters, Snapshots}

/** Structured-Streaming **CDC source over the snapshot log** — the
  * snapshot table ([[graft.sources.Snapshots]]) as a streaming input,
  * the same design Delta/Iceberg expose as "streaming from a table":
  *
  *  - an OFFSET is a committed snapshot VERSION (`SnapshotOffset`);
  *  - `latestOffset` polls `currentVersion` — the atomic manifest
  *    rename that publishes a commit is exactly what makes the poll
  *    race-free (a version is either fully visible or not at all);
  *  - each micro-batch `(start, end]` reads ONLY the data files those
  *    versions appended (`Snapshots.appendedDataFiles` — the same
  *    file-diff contract as the batch CDC reader, enforced: a REPLACE,
  *    delete or schema-change commit inside the range fails the stream
  *    loudly rather than silently double-reading or missing rows);
  *  - offsets live in the sink's checkpoint, so a restarted stream
  *    resumes from the last committed version — exactly-once delivery
  *    of every appended row composes from (immutable files, version
  *    offsets, checkpointed commit log).
  *
  * The schema is the first data file's footer schema
  * ([[graft.sources.ParquetFooters]]), and each file reads through the
  * batch scan's reader ([[SnapshotReaderFactory]]), Spark's own parquet
  * row materializer: any type Spark reads from parquet streams here,
  * and a file whose types match the schema emits the materializer's
  * rows unprojected. Column pruning and filters stay upstream in Spark.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
  *     .option("root", tableRoot).load()
  * }}}
  */
class SnapshotStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = SnapshotStreamSource.rootOf(options.asCaseSensitiveMap())
    SnapshotStreamSource.inferFromLatest(SparkSession.active, root)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(SnapshotStreamSource.rootOf(properties), schema)
  override def supportsExternalMetadata(): Boolean = false
}

object SnapshotStreamSource {

  private[v2] def rootOf(props: util.Map[String, String]): String =
    Option(props.get("root")).orElse(Option(props.get("path"))).getOrElse(
      throw new IllegalArgumentException(
        "snapshot stream source requires .option(\"root\", tableRoot)"))

  /** Schema = the footer schema of the table's first data file. All
    * commits the stream spans share one schema: a schema-change commit
    * inside a batch's range fails the stream
    * (`Snapshots.appendedDataFiles`). */
  private[graft] def inferFromLatest(spark: SparkSession, root: String): StructType = {
    val v = Snapshots.currentVersion(spark, root)
    require(v > 0, s"snapshot table $root has no committed version to infer a schema from")
    val first = Snapshots.appendedDataFiles(spark, root, 0, v).headOption.getOrElse(
      throw new IllegalArgumentException(s"snapshot table $root lists no data files"))
    ParquetFooters.schema(spark, first)
  }
}

private[v2] class SnapshotStreamTable(root: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"snapshot_stream($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def longOpt(name: String): Option[Long] = Option(options.get(name)).map { s =>
      val n = s.toLong
      require(n >= 1, s"$name must be >= 1, got $n")
      n
    }
    val maxVersions = longOpt("maxVersionsPerTrigger")
    val maxFiles = longOpt("maxFilesPerTrigger")
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SnapshotMicroBatchStream(root, tableSchema, maxVersions, maxFiles)
        override def description(): String = s"snapshot_stream($root)"
      }
    }
  }
}

private[v2] case class SnapshotOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Admission control, two independent throttles — a NEW consumer of a
  * long-lived table must not swallow its whole history as one giant
  * micro-batch:
  *  - `maxVersionsPerTrigger`: at most N versions per batch;
  *  - `maxFilesPerTrigger`: a cumulative FILE budget — versions are
  *    admitted in order until their appended-file total would exceed
  *    the budget (always at least one version, so a single fat commit
  *    still makes progress — the same floor file sources give one
  *    over-sized file).
  * A version is the atomic admission unit either way (offsets are
  * versions; a batch is never a partial commit). `ReadMaxFiles` from
  * the engine (e.g. `Trigger.AvailableNow`'s composite) is honored as
  * a true file budget, counted in files, not versions. Unset = read to
  * current. */
private[graft] class SnapshotMicroBatchStream(root: String, schema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {
  // driver-side only: every MicroBatchStream method runs on the driver,
  // where the session that started the stream is active
  private def spark = SparkSession.active

  override def initialOffset(): Offset = SnapshotOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")
  /** The FILE budget a ReadLimit imposes (None = unbounded). Unknown
    * limit kinds impose none here — the constructor options are applied
    * unconditionally in [[latestOffset]] regardless of what the engine
    * passes, so they never depend on the limit round-tripping. */
  private def fileBudgetOf(limit: ReadLimit): Option[Long] = limit match {
    case m: ReadMaxFiles => Some(m.maxFiles().toLong)
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(l => fileBudgetOf(l).toSeq)
        .reduceOption((a: Long, b: Long) => math.min(a, b))
    case _ => None
  }

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val cur = Snapshots.currentVersion(spark, root)
    val start = startOffset.asInstanceOf[SnapshotOffset].v
    // version cap first (cheap), then the file budget walks the capped
    // range, version by version, accumulating appended-file counts
    val verCapped = maxVersionsPerTrigger.fold(cur)(n => math.min(cur, start + n))
    val budget = (fileBudgetOf(limit).toSeq ++ maxFilesPerTrigger.toSeq).minOption
    val end = budget match {
      case None => verCapped
      case Some(b) =>
        // the walk is lazy and stops at budget exhaustion: O(admitted)
        // manifest reads per trigger, not O(backlog)
        val counts = Manifest.walk(spark, root, start, (start + 1 to verCapped).iterator)
          .map(_.added.count(_.kind == "A").toLong)
        var v = start
        var admitted = 0L
        var stop = false
        while (!stop && counts.hasNext) {
          val next = counts.next()
          if (admitted > 0 && admitted + next > b) stop = true
          else { admitted += next; v += 1 }
        }
        v
    }
    SnapshotOffset(end)
  }
  override def getDefaultReadLimit: ReadLimit =
    // only the FILE option is advertised in engine units; the version
    // cap is applied internally (there is no ReadMaxVersions kind, and
    // advertising versions as maxFiles was exactly the r11 deviation)
    maxFilesPerTrigger.fold(ReadLimit.allAvailable())(n => ReadLimit.maxFiles(n.toInt))
  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].v
    val e = end.asInstanceOf[SnapshotOffset].v
    if (e <= s) Array.empty
    else Snapshots.appendedDataFiles(spark, root, s, e)
      .map(SnapshotFilePartition(_, schema.fieldNames.toSeq): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(schema, schema.length, Array.empty,
      SnapshotReaderFactory.readerConf(spark))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
