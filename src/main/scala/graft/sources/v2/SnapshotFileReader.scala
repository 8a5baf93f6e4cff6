package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.sources.{ParquetFooters, SnapshotRead}

/** One parquet file of a snapshot read, decoded by Spark's own row
  * materializer (`ParquetReadSupport`, the reader Spark itself uses when
  * vectorization is off) and bound to `schema`: column `i` is the file
  * column `fileCols(i)` cast from its footer type to `schema(i)`'s type
  * with Spark cast semantics (the session time zone and ANSI mode in
  * `conf`), or NULL when `fileCols(i)` is "" (the file predates the
  * column). Every type Spark reads from parquet reads here — INT96 and
  * rebased legacy dates/timestamps, DECIMAL, nested and legacy list
  * layouts.
  *
  * `conf` is a reader conf ([[SnapshotReaderFactory.readerConf]]). Rows
  * from [[next]] are the materializer's own reused row in the file's
  * types; [[columns]] evaluates to the bound values over them. */
private[graft] final class SnapshotFileReader(path: String, fileCols: Seq[String],
    schema: StructType, conf: Configuration) extends AutoCloseable {
  private val md = ParquetFooters.fileMetaData(conf, path)
  private val requested: StructType = {
    val file = ParquetFooters.schema(path, md, new ParquetToSparkSchemaConverter(conf))
    StructType(fileCols.filter(_.nonEmpty).map(n => file(n)))
  }

  /** `schema`'s columns as expressions over a row from [[next]]. */
  val columns: IndexedSeq[Expression] = fileCols.zip(schema.fields).map {
    case ("", f) => Literal(null, f.dataType)
    case (n, f) =>
      val j = requested.fieldIndex(n)
      val ref = BoundReference(j, requested(j).dataType, nullable = true)
      if (SchemaBridge.equalsIgnoreCompatibleNullability(ref.dataType, f.dataType)) ref
      else Cast(ref, f.dataType, Option(conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)),
        EvalMode.fromBoolean(conf.getBoolean(SQLConf.ANSI_ENABLED.key, true)))
  }.toIndexedSeq

  /** True when the first `width` columns are the file's requested
    * columns in order, uncast: rows from [[next]] are then already the
    * bound rows. */
  def identity(width: Int): Boolean = requested.length == width &&
    columns.take(width).zipWithIndex.forall {
      case (b: BoundReference, i) => b.ordinal == i
      case _ => false
    }

  // as ParquetFileFormat.buildReaderWithPartitionValues sets up its
  // parquet-mr fallback: requested schema, per-file rebase specs, and
  // the INT96 time-zone conversion for files not written by parquet-mr
  private val reader: ParquetReader[InternalRow] = {
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    val kv = md.getKeyValueMetaData
    val convertTz =
      if (conf.getBoolean(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION.key, false) &&
          !md.getCreatedBy.startsWith("parquet-mr"))
        Some(java.time.ZoneId.of(conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)))
      else None
    ParquetReader.builder(new ParquetReadSupport(convertTz, false,
      DataSourceUtils.datetimeRebaseSpec(kv.get(_),
        conf.get(SQLConf.PARQUET_REBASE_MODE_IN_READ.key)),
      DataSourceUtils.int96RebaseSpec(kv.get(_),
        conf.get(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key))), new Path(path))
      .withConf(conf).build()
  }

  /** The next row, or null at the end of the file. */
  def next(): InternalRow = reader.read()

  override def close(): Unit = reader.close()
}

/** One data file of a snapshot scan or stream batch: the file-local
  * column bound to each column of the factory's read schema ("" =
  * NULL) and the delete files scoped to it. */
private[v2] case class SnapshotFilePartition(path: String, fileCols: Seq[String],
    deletes: Seq[SnapshotRead.DeleteSpec] = Nil) extends InputPartition

/** The one reader of snapshot data files, for the batch scan and the
  * stream alike. Each file reads through [[SnapshotFileReader]] bound to
  * `schema` (the output columns, then any delete-key columns not among
  * them); `keyPos(i)` is the read column of the plan's i-th delete key.
  * Rows whose key tuple a scoped delete holds are dropped
  * ([[ScopedDeletes]], the matcher `readSnapshot` shares; a NULL
  * component never matches), and the first `outWidth` columns are
  * emitted. A file whose binding is the identity emits the
  * materializer's rows unprojected. */
private[v2] class SnapshotReaderFactory(schema: StructType, outWidth: Int,
    keyPos: Array[Int], confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    val file = new SnapshotFileReader(p.path, p.fileCols, schema,
      SnapshotReaderFactory.mapToConf(confEntries))
    val project: InternalRow => InternalRow =
      if (file.identity(outWidth)) r => r else UnsafeProjection.create(file.columns.take(outWidth))
    val deletes = SnapshotDeleteSets.scope(p.deletes, confEntries)
    val keyIdx = p.deletes.flatMap(_.keyIdx).distinct.toArray
    val keys = new Array[Any](keyPos.length)
    def deleted(row: InternalRow): Boolean = !deletes.isEmpty && {
      keyIdx.foreach(i => keys(i) = file.columns(keyPos(i)).eval(row))
      deletes.deletes(keys)
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        var row = file.next()
        while (row != null && deleted(row)) row = file.next()
        if (row != null) cur = project(row)
        row != null
      }
      override def get(): InternalRow = cur
      override def close(): Unit = file.close()
    }
  }
}

private[graft] object SnapshotReaderFactory {
  /** The reader conf of `spark`'s session: its resolved Hadoop conf plus
    * every setting the readers take from the session, captured at
    * planning — the keys `ParquetFileFormat` sets for its own readers
    * (time zone, case sensitivity, the parquet type-inference flags),
    * the rebase modes, and the ANSI mode the casts run under. */
  def readerConf(spark: SparkSession): Array[(String, String)] = {
    val sql = spark.sessionState.conf
    val options = new ParquetOptions(Map.empty[String, String], sql)
    val conf = spark.sessionState.newHadoopConf()
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    conf.setBoolean(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION.key,
      sql.isParquetINT96TimestampConversion)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_READ.key, options.datetimeRebaseModeInRead)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key, options.int96RebaseModeInRead)
    conf.setBoolean(SQLConf.ANSI_ENABLED.key, sql.ansiEnabled)
    confToMap(conf)
  }

  /** Driver side: flatten the resolved conf to a serializable entry
    * list (Configuration itself is not java-serializable). */
  def confToMap(conf: Configuration): Array[(String, String)] = {
    val it = conf.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** Executor side: rebuild — executor-classpath defaults LOAD first
    * (heterogeneous clusters carry executor-local core-site/hdfs-site
    * entries the driver never saw: endpoints, codecs, short-circuit
    * paths; `loadDefaults = false` would silently drop them), then the
    * driver's resolved entries overlay them, driver winning on
    * conflicts. */
  def mapToConf(entries: Array[(String, String)]): Configuration = {
    val c = new Configuration()
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
