package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet footer schemas without a Spark job.
  *
  * `spark.read.parquet` without a schema infers one through a one-task
  * Spark job (`SchemaMergeUtils.mergeSchemasInParallel`). [[schema]]
  * gives the same answer from one footer read on the driver: the Spark
  * row-metadata key when the writer stored it, else the parquet schema
  * converted under the session's parquet settings. Merging follows
  * Spark's `mergeSchema = true` rule ([[merged]]). Executors use the
  * `Configuration` forms, which read the same settings from the reader
  * conf (`SnapshotReaderFactory.readerConf`).
  *
  * Snapshot data and delete files are immutable, so each file's
  * footer metadata (schema and key-value pairs, no row groups) is
  * memoized per path; the conversion runs per call because it depends
  * on session settings. */
private[graft] object ParquetFooters {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, FileMetaData]()

  def fileMetaData(conf: => Configuration, path: String): FileMetaData = {
    val hit = cache.get(path)
    if (hit != null) return hit
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    val md = try reader.getFooter.getFileMetaData finally reader.close()
    if (cache.size > 4096) cache.clear() // files are immutable: a re-read is pure cost
    cache.putIfAbsent(path, md)
    md
  }

  /** The Spark schema that inference gives for `path`. */
  def schema(spark: SparkSession, path: String): StructType =
    schema(path, fileMetaData(spark.sessionState.newHadoopConf(), path),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  def schema(path: String, md: FileMetaData,
      converter: ParquetToSparkSchemaConverter): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(path), new ParquetMetadata(md, java.util.Collections.emptyList())),
      converter)

  /** The `mergeSchema = true` schema of `paths`, merged in order. */
  def merged(spark: SparkSession, paths: Seq[String]): StructType = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    paths.map(schema(spark, _)).reduce(SchemaBridge.merge(_, _, caseSensitive))
  }
}
