package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Manifest, ParquetFooters, SnapshotRead, Snapshots}

/** BATCH DSv2 read of a snapshot table with pushdown-driven file
  * skipping — the declarative form of `Snapshots.readSnapshotPruned`:
  *
  * {{{
  *   spark.read.format("graft.sources.v2.SnapshotBatchSource")
  *     .option("root", tableRoot)        // + .option("version", v) to pin
  *     .load()
  *     .filter($"doc_id" <= 1000)        // <- THIS prunes files
  * }}}
  *
  * Contracts:
  *  - `SupportsPushDownFilters`: pushed predicates are tested against
  *    each data file's manifest min/max; non-matching files are never
  *    planned (one input partition per surviving file). Every filter is
  *    also returned as residual, so results are exact by construction.
  *  - `SupportsPushDownRequiredColumns`: each file reads only the
  *    required columns (plus the delete-key columns).
  *  - One decoder: every data file reads through [[SnapshotFileReader]],
  *    Spark's own parquet row materializer, so any type Spark reads from
  *    parquet reads here (INT96 and rebased timestamps, DECIMAL, nested
  *    and legacy list layouts), the same reader the stream source and
  *    the delete-key loader use.
  *  - Schema, bindings and delete scopes come from the one read
  *    planner, [[graft.sources.SnapshotRead]], the one `readSnapshot`
  *    uses: renamed columns read under their current name, columns a
  *    file predates read NULL, re-typed columns cast with Spark cast
  *    semantics under the session's ANSI mode, and an untracked table
  *    serves Spark's additive merge of its commit footers — exactly
  *    `readSnapshot(mergeSchema = true)`'s schema.
  *  - Merge-on-read equality deletes apply inside the reader: each file
  *    task probes its sequence-scoped delete sets
  *    ([[SnapshotDeleteSets]]) — no join, no shuffle, and file skipping
  *    still composes (a filter only removes candidate rows).
  *  - Writes (`INSERT INTO`, `INSERT OVERWRITE`, the streaming sink,
  *    `UPDATE`/`MERGE`) go through the lake's one writer
  *    ([[SnapshotFileWriter]]), the one `Snapshots.commitAppend` uses:
  *    every column type the table holds is written as
  *    `df.write.parquet` writes it, and the manifest stats come from
  *    the write task.
  * Edges that stay loud: delete files whose key types do not widen
  * losslessly to the current column types fail at planning; an
  * untracked column re-typed across commits fails Spark's schema merge
  * at schema inference; a file column Spark cannot cast to its read
  * type (an untracked struct that gained a field) fails at planning.
  * Reference anchor: the reference's bulk data surface is a
  * raw S3 prefix (src/copy_from_template.py:316-327); this is that
  * prefix read as a planned table. */
class SnapshotBatchSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = SnapshotBatchSource.rootOf(options.asCaseSensitiveMap())
    val version = Option(options.get("version")).map(_.toLong).getOrElse(-1L)
    SnapshotBatchSource.inferSchemaAt(SparkSession.active, root, version)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = SnapshotBatchSource.rootOf(properties)
    val version = Option(properties.get("version")).map(_.toLong).getOrElse(-1L)
    new SnapshotBatchTable(root, version, schema)
  }
  override def supportsExternalMetadata(): Boolean = false
}

private[v2] object SnapshotBatchSource {
  def rootOf(props: util.Map[String, String]): String =
    Option(props.get("root")).orElse(Option(props.get("path"))).getOrElse(
      throw new IllegalArgumentException(
        "snapshot batch source requires .option(\"root\", tableRoot)"))

  /** Schema at a version: [[graft.sources.SnapshotRead.readSchema]]
    * with `mergeSchema`, the schema the scan plans with. */
  private[v2] def inferSchemaAt(spark: SparkSession, root: String,
      version: Long): StructType = {
    SnapshotRead.readSchema(spark, root, Manifest.at(spark, root, version), mergeSchema = true)
  }
}

private[v2] class SnapshotBatchTable(root: String, version: Long,
    tableSchema: StructType) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"snapshot($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def longOpt(name: String): Option[Long] =
      Option(options.get(name)).map { s =>
        val n = s.toLong; require(n >= 1, s"$name must be >= 1, got $n"); n
      }
    new SnapshotScanBuilder(root, version, tableSchema,
      longOpt("maxVersionsPerTrigger"), longOpt("maxFilesPerTrigger"))
  }
  /** INSERT INTO → append commit; INSERT OVERWRITE → replace commit
    * ([[SnapshotWriteBuilder]]). A version-pinned read is a snapshot,
    * not a table — writing to one is refused loudly. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(version < 0,
      s"cannot write to a VERSION-pinned snapshot read of $root — writes go " +
        "to the current table")
    new SnapshotWriteBuilder(root, info)
  }

  /** SQL UPDATE / MERGE INTO / non-equality DELETE: group-based
    * copy-on-write through Spark's own row-level rewrites — see
    * [[SnapshotRowLevelOperation]]. Equality-
    * shaped DELETEs still take the cheap merge-on-read path below
    * (Spark's OptimizeMetadataOnlyDeleteFromTable converts them back to
    * [[deleteWhere]] when [[canDeleteWhere]] accepts). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version < 0,
      s"cannot UPDATE/MERGE/DELETE a VERSION-pinned snapshot read of $root — " +
        "writes go to the current table")
    SnapshotRowLevel.builder(root, tableSchema, info)
  }

  /** `DELETE FROM … WHERE` lands as a MERGE-ON-READ equality delete: a
    * conjunction of equality / IN predicates over distinct columns IS a
    * key-tuple set — exactly what
    * [[graft.sources.Snapshots.commitDelete]] publishes, so the SQL
    * DELETE costs one tiny key file + one manifest commit, never a
    * rewrite. Anything else (ranges, nulls, OR trees, no WHERE)
    * declines loudly — Spark reports the unsupported condition rather
    * than this table pretending. NULL semantics line up by
    * construction: SQL DELETE's predicate never matches NULL, and
    * neither does equality-delete key matching. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val cols = filters.collect {
      case EqualTo(a, v) if v != null => a
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) => a
    }
    version < 0 && filters.nonEmpty && cols.length == filters.length &&
      cols.distinct.length == cols.length &&
      cols.forall(a => tableSchema.fieldNames.contains(a))
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    require(canDeleteWhere(filters), "unsupported DELETE condition")
    val spark = SparkSession.active
    val cols = filters.map { case EqualTo(a, _) => a; case In(a, _) => a }
    val valueLists: Seq[Seq[Any]] = filters.toSeq.map {
      case EqualTo(_, v) => Seq(v)
      case In(_, vs) => vs.toSeq.distinct
    }
    val tuples = valueLists.foldLeft(Seq(Seq.empty[Any]))(
      (acc, vs) => for (t <- acc; v <- vs) yield t :+ v)
    // the key set is INLINE literals from the SQL text — bounded by
    // construction; bulk deletes pass a keys FRAME to commitDelete
    require(tuples.size <= 65536,
      "DELETE FROM with an inline key set this large should pass a keys " +
        "DataFrame to Snapshots.commitDelete")
    val keySchema = StructType(cols.map(c =>
      tableSchema(tableSchema.fieldIndex(c)).copy(nullable = false)).toSeq)
    val rows = tuples.map(org.apache.spark.sql.Row.fromSeq)
    val keys = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), keySchema)
    Snapshots.commitDelete(spark, root, keys)
  }
}

private[v2] class SnapshotScanBuilder(root: String, version: Long,
    tableSchema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    rowLevel: Option[SnapshotRowLevelOperation] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggValues: Option[(StructType, Seq[Seq[Any]], String)] = None

  // SNAPSHOT PIN for aggregate pushdown: every aggregate of one
  // compiled aggregation answers from ONE read of ONE version's
  // manifest, so a concurrent commit cannot mix count@v with
  // min/max@v+1 in one pushed result row (the non-agg path pins its own
  // version in SnapshotBatchScan).
  private lazy val aggEntries = Manifest.at(SparkSession.active, root, version)
  // supportCompletePushDown and pushAggregation both compile the SAME
  // Aggregation — memoize by identity so the push returns exactly what
  // the support check inspected (one compile, one version, even if a
  // commit lands between the two calls).
  private var compiledFor: AnyRef = null
  private var compiledResult: Option[(StructType, Seq[Seq[Any]], String)] = None

  /** Accept the prunable subset for file skipping; return EVERYTHING as
    * residual — manifest stats exclude whole files, never rows, so
    * Spark must keep the row-level predicate. (Returning a filter both
    * ways is the documented DSv2 contract for "advisory" pushdown.) */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(SnapshotRead.prunableFilter)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  /** TOP-LEVEL column pruning only: Catalyst's nested-schema pruning
    * may request a TRIMMED struct (`props: struct<v>` of a
    * `struct<name,v>` column) — the scan binds whole top-level columns
    * to the current table types, so a required nested field widens back
    * to the table's full type here and `readSchema()` reports what the
    * scan really produces (Spark re-extracts the fields above the
    * scan). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f =>
      tableSchema.fields.find(_.name == f.name).getOrElse(f)))

  /** COMPLETE aggregate pushdown from the MANIFEST: count(*) / min /
    * max over integral columns are answered from the reserved `__rows`
    * key and the per-file ranges — the whole aggregation collapses to
    * metadata rows, zero files opened (`lake_stats_agg` /
    * `lake_stats_agg_grouped` are the explicit APIs; this is
    * `df.agg(...)` / `df.groupBy(g).agg(...)` doing it declaratively).
    * GROUP BY one int/long/string column is accepted when that column
    * is SINGLE-VALUED per file in the manifest stats (lo == hi — the
    * partition-shaped-ingest layout).
    * Accepted ONLY when every file carries the needed stat — any gap,
    * a residual filter, a multi-valued group file, or a non-integral
    * agg column declines and the ordinary scan computes. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    compileAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    compileAgg(agg) match {
      case Some(v) => aggValues = Some(v); true
      case None => false
    }

  private def compileAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]], String)] = {
    if (rowLevel.isDefined) return None // a rewrite scan serves whole groups
    if (agg eq compiledFor) return compiledResult
    val r = compileAggAt(agg, aggEntries)
    compiledFor = agg
    compiledResult = r
    r
  }

  private def compileAggAt(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      es: Seq[Manifest.Entry])
      : Option[(StructType, Seq[Seq[Any]], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushed.nonEmpty) return None
    def intCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 &&
          tableSchema.fields.exists(sf => sf.name == f.fieldNames()(0) &&
            (sf.dataType == org.apache.spark.sql.types.LongType ||
             sf.dataType == org.apache.spark.sql.types.IntegerType)) =>
          Some(f.fieldNames()(0))
        case _ => None
      }
    def typed(col: String, v: Long): Any =
      tableSchema.fields.find(_.name == col).get.dataType match {
        case org.apache.spark.sql.types.IntegerType => v.toInt
        case _ => v
      }
    def field(name: String, col: String) = org.apache.spark.sql.types.StructField(
      name, tableSchema.fields.find(_.name == col).get.dataType, nullable = false)

    agg.groupByExpressions.toSeq match {
      case Nil =>
        val out = agg.aggregateExpressions.toSeq.foldLeft(
          Option((Vector.empty[org.apache.spark.sql.types.StructField],
            Vector.empty[Any], Vector.empty[String]))) {
          case (Some((fs, vs, ds)), _: CountStar) =>
            Snapshots.metadataRowCount(es).map(n =>
              (fs :+ org.apache.spark.sql.types.StructField("count",
                org.apache.spark.sql.types.LongType, nullable = false),
                vs :+ (n: Any), ds :+ "COUNT(*)"))
          case (Some((fs, vs, ds)), m: Min) => intCol(m.column).flatMap { c =>
            Snapshots.metadataMinMaxLong(es, c).map { case (lo, _) =>
              (fs :+ field(s"min($c)", c), vs :+ typed(c, lo), ds :+ s"MIN($c)") }
          }
          case (Some((fs, vs, ds)), m: Max) => intCol(m.column).flatMap { c =>
            Snapshots.metadataMinMaxLong(es, c).map { case (_, hi) =>
              (fs :+ field(s"max($c)", c), vs :+ typed(c, hi), ds :+ s"MAX($c)") }
          }
          case _ => None
        }
        out.collect { case (fs, vs, ds) if fs.nonEmpty =>
          (StructType(fs), Seq(vs.toSeq), ds.mkString(", "))
        }

      // GROUPED pushdown: one group
      // column whose manifest stats are SINGLE-VALUED per file (lo==hi
      // — the partition-shaped-ingest layout). The grouped manifest
      // walks decline on any gap, so acceptance here is exactly
      // soundness; anything else falls back to the ordinary scan.
      case Seq(g: NamedReference) if g.fieldNames.length == 1 =>
        val gName = g.fieldNames()(0)
        val gFieldOpt = tableSchema.fields.find(_.name == gName).filter(f =>
          f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.StringType ||
            f.dataType == org.apache.spark.sql.types.DateType)
        gFieldOpt.flatMap { gField =>
          // encoded manifest key -> catalyst value of the group column
          // (DATE stats are epoch days — exactly catalyst's Int form,
          // so "rows per day/month" answers from the manifest too)
          def keyVal(k: Option[String]): Any = k match {
            case None => null
            case Some(s) => gField.dataType match {
              case org.apache.spark.sql.types.LongType => s.toLong
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.DateType => s.toInt
              case _ => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            }
          }
          Snapshots.metadataGroupedRowCount(es, gName)
            .flatMap { counts =>
              val keys = counts.map(_._1)
              val countOf = counts.toMap
              // per aggregate expression: a column of per-key values
              val cols = agg.aggregateExpressions.toSeq.foldLeft(
                Option((Vector.empty[org.apache.spark.sql.types.StructField],
                  Vector.empty[Map[Option[String], Any]], Vector.empty[String]))) {
                case (Some((fs, vs, ds)), _: CountStar) =>
                  Some((fs :+ org.apache.spark.sql.types.StructField("count",
                    org.apache.spark.sql.types.LongType, nullable = false),
                    vs :+ countOf.view.mapValues(n => n: Any).toMap,
                    ds :+ "COUNT(*)"))
                case (Some((fs, vs, ds)), m: Min) => intCol(m.column).flatMap { c =>
                  Snapshots.metadataGroupedMinMaxLong(es, gName, c)
                    .map { mm =>
                      (fs :+ field(s"min($c)", c).copy(nullable = true),
                        vs :+ mm.map { case (k, r) =>
                          k -> r.map(x => typed(c, x._1)).orNull }.toMap,
                        ds :+ s"MIN($c)")
                    }
                }
                case (Some((fs, vs, ds)), m: Max) => intCol(m.column).flatMap { c =>
                  Snapshots.metadataGroupedMinMaxLong(es, gName, c)
                    .map { mm =>
                      (fs :+ field(s"max($c)", c).copy(nullable = true),
                        vs :+ mm.map { case (k, r) =>
                          k -> r.map(x => typed(c, x._2)).orNull }.toMap,
                        ds :+ s"MAX($c)")
                    }
                }
                case _ => None
              }
              cols.collect { case (fs, vs, ds) if fs.nonEmpty =>
                // complete-pushdown contract: group-by columns first,
                // then the aggregate columns, one row per group
                val schema = StructType(
                  gField.copy(nullable = true) +: fs)
                val rows = keys.map(k => keyVal(k) +: vs.map(_(k)))
                (schema, rows,
                  (ds :+ s"GROUP BY $gName").mkString(", "))
              }
            }
        }
      case _ => None
    }
  }

  override def build(): Scan = aggValues match {
    case Some((schema, rows, desc)) =>
      new SnapshotAggScan(schema, rows, s"snapshot($root) PushedAggregates: [$desc] (manifest-only)")
    case None => new SnapshotBatchScan(root, version, tableSchema, required,
      pushed, maxVersionsPerTrigger, maxFilesPerTrigger, rowLevel)
  }
}

/** A scan of rows computed on the driver at planning: a single
  * partition emitting them, no data file opened. Serves a completely
  * pushed aggregation (one row ungrouped, one per group) and the
  * `$files` / `$history` metadata tables. */
private[graft] class SnapshotAggScan(schema: StructType, rows: Seq[Seq[Any]],
    desc: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = desc
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[SnapshotAggPartition].rows.iterator
          private var cur: Seq[Any] = _
          override def next(): Boolean = it.hasNext && { cur = it.next(); true }
          override def get(): InternalRow = InternalRow.fromSeq(cur)
          override def close(): Unit = ()
        }
    }
}

private[v2] case class SnapshotAggPartition(rows: Seq[Seq[Any]]) extends InputPartition

private[graft] class SnapshotBatchScan(root: String, version: Long,
    tableSchema: StructType,
    required: StructType, pushed: Array[Filter],
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    rowLevel: Option[SnapshotRowLevelOperation] = None) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  private def spark = SparkSession.active
  // pin the version ONCE per scan — planInputPartitions and
  // createReaderFactory are separate calls, and a concurrent commit
  // between them must not skew the two (snapshot isolation holds per
  // scan, exactly like readSnapshot's frozen file list)
  private lazy val resolvedVersion: Long = Manifest.resolve(spark, root, version)
  // the pinned version's manifest, read once for every planning call
  private lazy val entries = Manifest.entries(spark, root, resolvedVersion)
  // RUNTIME file pruning (dynamic-partition-pruning shape): when this
  // scan is the fact side of a join, Spark delivers the dim side's key
  // set as an In filter AT EXECUTION — files whose ranges miss every
  // key are dropped then, the same manifest test as compile-time
  // pushdown. At 100 TB this is "join against yesterday's partition
  // keys, scan only yesterday's files" with zero user hints.
  private var runtime: Array[Filter] = Array.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // advertise only what runtime pruning can act on: TOP-LEVEL
    // PRIMITIVE columns (the manifest-stats domain; a nested column
    // would invite runtime group filtering to build an invalid IN
    // subquery over map/struct values). A ROW-LEVEL rewrite scan
    // advertises nothing, so group filtering never fires on it.
    if (rowLevel.isDefined) Array.empty
    else required.fields
      .filter(f => SnapshotDeleteSets.PrimitiveDdl.contains(f.dataType.sql))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
  override def filter(filters: Array[Filter]): Unit =
    // a ROW-LEVEL (copy-on-write) scan ignores runtime filters: pruning
    // target files by a join's runtime keys would skip exactly the files
    // whose not-matched-by-source rows a MERGE must rewrite — group
    // completeness beats the optimization (compile-time condition
    // pruning still applies; it is sound for UPDATE/DELETE groups)
    if (rowLevel.isEmpty) runtime = filters.filter(SnapshotRead.prunableFilter)
  /** POST-PRUNE planner statistics from the manifest's reserved
    * `__rows`/`__bytes` keys: the optimizer sees the size of what the
    * scan will actually read, so a selective read of a huge table
    * lands under the auto-broadcast threshold on its true size —
    * exactly how Iceberg/Delta make "join the last day's files" pick a
    * broadcast join unaided. Unknown components stay empty (Spark
    * falls back to its defaults), never a guess. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val (rows, bytes) = SnapshotRead.scanEstimate(entries, (pushed ++ runtime).toIndexedSeq)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.fold(java.util.OptionalLong.empty)(java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty)(java.util.OptionalLong.of)
    }
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** STREAMING through the same table identity:
    * `spark.readStream.table("snap.`root`")` tails the commit log with
    * the ordinary [[SnapshotMicroBatchStream]] — one name serves batch
    * SQL, INSERT, and the stream. The stream keeps the CDC contract
    * (append-only history, full schema, loud otherwise); admission
    * control rides the same `maxVersionsPerTrigger`/`maxFilesPerTrigger`
    * options. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version < 0, "cannot stream a VERSION-pinned snapshot read")
    // the stream always serves the FULL table row (streaming plans do
    // not run column pruning; this require is the loud backstop)
    require(required == tableSchema,
      "snapshot streaming serves the full table schema")
    new SnapshotMicroBatchStream(root, tableSchema,
      maxVersionsPerTrigger, maxFilesPerTrigger)
  }

  override def description(): String =
    s"snapshot($root) PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  // the columns each file task reads: the required ones, then the
  // delete-key columns the scoped deletes probe
  private lazy val keyCols = SnapshotRead.keyColumns(spark, entries)
  private lazy val readNames: Seq[String] =
    required.fieldNames.toSeq ++ keyCols.filterNot(required.fieldNames.contains)

  override def planInputPartitions(): Array[InputPartition] = {
    val plan = SnapshotRead.plan(spark, root, entries, (pushed ++ runtime).toIndexedSeq,
      mergeSchema = true, keepAnchor = false)
    val pos = readNames.map(plan.schema.fieldIndex)
    // row-level rewrite: the write's commit swaps EXACTLY these files
    rowLevel.foreach { op =>
      op.scannedPaths = plan.files.map(_.entry.path); op.scanVersion = resolvedVersion
    }
    plan.files.map(f =>
      SnapshotFilePartition(f.entry.path, pos.map(f.fileCols), f.deletes): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(
      StructType(required.fields ++ readNames.drop(required.length).map(tableSchema(_))),
      required.length, keyCols.map(readNames.indexOf).toArray,
      SnapshotReaderFactory.readerConf(spark))
}

/** The delete sets scoped to one data file, grouped by key positions
  * (delete files committed on the same key columns share one tuple
  * per row). A row is deleted iff some group's sets hold its key
  * tuple; a tuple with a NULL component never matches. */
private[graft] final class ScopedDeletes private[v2] (
    groups: Array[(Array[Int], Array[scala.collection.Set[Seq[Any]]])]) {
  def isEmpty: Boolean = groups.isEmpty

  /** `vals(keyIdx(i))` is the row's value of the group's i-th key, in
    * the catalyst representation of the key's current type. */
  def deletes(vals: Array[Any]): Boolean = {
    var g = 0
    while (g < groups.length) {
      val (idx, sets) = groups(g)
      val key = new Array[Any](idx.length)
      var i = 0
      var hasNull = false
      while (i < idx.length && !hasNull) {
        key(i) = SnapshotDeleteSets.normKey(vals(idx(i)))
        hasNull = key(i) == null
        i += 1
      }
      if (!hasNull) {
        val tuple = scala.collection.immutable.ArraySeq.unsafeWrapArray(key)
        if (sets.exists(_.contains(tuple))) return true
      }
      g += 1
    }
    false
  }
}

/** Equality-delete key sets: the one key-loading and key-matching rule
  * both snapshot read paths apply ([[ScopedDeletes.deletes]]: the DSv2
  * reader and `Snapshots.readSnapshot`'s in-scan predicate), Iceberg's
  * in-task delete application. Contracts:
  *  - key typing is loud: [[spec]] checks each delete file's footer key
  *    types on the driver, before any task starts; a key must have its
  *    column's current type or widen losslessly to it;
  *  - a delete file loads once per executor through the same
  *    [[SnapshotFileReader]] as the data files, its keys cast into the
  *    current type domain so tuples compare in one domain; tuples with
  *    a NULL component are dropped (SQL equality never matches NULL);
  *  - delete files are immutable, so the cache never goes stale; its
  *    size valve only costs a re-read. */
private[graft] object SnapshotDeleteSets {

  /** The primitive DDL domain of equality-delete keys:
    * `Snapshots.commitDelete` and `commitMerge` reject key columns of
    * any other type, and runtime file pruning acts only on columns of
    * these types. */
  val PrimitiveDdl: Set[String] = Set("BIGINT", "INT", "DOUBLE", "FLOAT",
    "BOOLEAN", "STRING", "DATE", "TIMESTAMP", "TIMESTAMP_NTZ")

  /** Driver side: the spec of delete file `path`, whose own columns are
    * its equality key, read at their current types `currentType` and
    * indexed by `keyIdx` into the plan's key columns. Each key's footer type must equal its
    * current type or widen losslessly to it (INT→BIGINT,
    * INT/BIGINT/FLOAT→DOUBLE): a wider-typed key file — BIGINT keys
    * against an INT column — would otherwise match no row and the
    * delete would be silently ignored. */
  def spec(spark: SparkSession, path: String, currentType: Map[String, String],
      keyIdx: String => Int): SnapshotRead.DeleteSpec = {
    val cols = ParquetFooters.schema(spark, path).fields.toSeq
    cols.foreach { f =>
      val to = currentType.getOrElse(f.name, throw new IllegalArgumentException(
        s"delete key column '${f.name}' of $path is not a current column"))
      val from = f.dataType.sql
      if (from != to && !LosslessWidenings((from, to))) throw new IllegalStateException(
        s"equality-delete key file $path stores column '${f.name}' as $from, which " +
          s"does not widen losslessly to the table's declared type $to — rewrite the " +
          "delete with keys of the table's exact column types (Snapshots.commitDelete " +
          "checks this at commit time)")
    }
    val names = cols.map(_.name)
    SnapshotRead.DeleteSpec(path, names, names.map(currentType), names.map(keyIdx))
  }

  private val LosslessWidenings =
    Set("INT" -> "BIGINT", "INT" -> "DOUBLE", "BIGINT" -> "DOUBLE", "FLOAT" -> "DOUBLE")

  /** Load (or reuse) the sets of `specs` — the deletes in one data
    * file's scope — grouped by key positions. */
  def scope(specs: Seq[SnapshotRead.DeleteSpec],
      confEntries: Array[(String, String)]): ScopedDeletes =
    new ScopedDeletes(specs.groupBy(_.keyIdx).toArray.map { case (idx, sps) =>
      idx.toArray -> sps.map(get(_, confEntries)).toArray
    })

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, scala.collection.Set[Seq[Any]]]()

  def get(sp: SnapshotRead.DeleteSpec,
      confEntries: Array[(String, String)]): scala.collection.Set[Seq[Any]] = {
    val k = s"${sp.path}|${sp.keyCols.mkString(",")}|${sp.keyTypes.mkString(",")}"
    val hit = cache.get(k)
    if (hit != null) return hit
    val set = load(sp, confEntries)
    if (cache.size > 64) cache.clear() // bound executor memory; re-load is pure cost
    cache.putIfAbsent(k, set)
    set
  }

  private def load(sp: SnapshotRead.DeleteSpec,
      confEntries: Array[(String, String)]): scala.collection.Set[Seq[Any]] = {
    val schema = StructType(sp.keyCols.zip(sp.keyTypes).map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DataType.fromDDL(t))
    })
    val file = new SnapshotFileReader(sp.path, sp.keyCols, schema,
      SnapshotReaderFactory.mapToConf(confEntries))
    val b = scala.collection.mutable.HashSet.empty[Seq[Any]]
    try {
      var row = file.next()
      while (row != null) {
        // the materializer reuses its row: copy each value out of it
        val key = file.columns.map(c => normKey(InternalRow.copyValue(c.eval(row))))
        if (!key.contains(null)) b += key
        row = file.next()
      }
    } finally file.close()
    b
  }

  /** Key tuples compare with Scala's numeric `==`, which already equates
    * -0.0 and 0.0 (as SQL equality does) but never NaN with NaN, while
    * SQL equality of join keys does: every NaN folds to one sentinel.
    * Signed zero folds to 0.0 for a stable hash. */
  private case object NaNKey

  def normKey(v: Any): Any = v match {
    case d: java.lang.Double if d.isNaN => NaNKey
    case f: java.lang.Float if f.isNaN => NaNKey
    case d: java.lang.Double if d.doubleValue == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue == 0.0f => java.lang.Float.valueOf(0.0f)
    case x => x
  }
}
