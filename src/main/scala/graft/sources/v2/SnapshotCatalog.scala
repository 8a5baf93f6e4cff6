package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Manifest, Snapshots}

/** Snapshot tables as a SQL CATALOG:
  * registering this class as `spark.sql.catalog.<name>` lets plain
  * `spark.sql` name a snapshot table and plan it through the SAME
  * pushdown-driven DSv2 scan as the DataFrame path —
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap",
  *     "graft.sources.v2.SnapshotCatalog")
  *   spark.sql("SELECT … FROM snap.`/lake/events` WHERE day = …")
  *   spark.sql("SELECT … FROM snap.`/lake/events` VERSION AS OF 7")
  * }}}
  *
  * Identifiers are PATH-ADDRESSED (a backtick-quoted absolute table
  * root, the `format.`path`` convention Delta established) or, when
  * the catalog is configured with a `warehouse` option, bare names
  * resolved as `warehouse/<name>`. `VERSION AS OF n` time travel maps
  * onto the manifest versions — the catalog resolves the identifier,
  * [[SnapshotBatchTable]] pins the version, and snapshot isolation is
  * the ordinary frozen-file-list story. DML WRITES are served
  * ([[SnapshotWriteBuilder]]): `INSERT INTO` lands as an append
  * commit and `INSERT OVERWRITE` as an atomic replace, both through
  * the claim-serialized publish — SQL writers and API writers share
  * one arbiter. DDL is served too: CREATE / ALTER / DROP
  * TABLE map onto the commit protocol's empty-table creation and
  * column-ID evolution commits (see the DDL section below); only
  * RENAME TABLE stays loud — a path-addressed table's name IS its
  * location.
  *
  * Reference anchor: the reference provisions a queryable view over an
  * S3 prefix by NAME for downstream SQL consumers
  * (synapseformation_templates/default.yaml:5-10); this is that naming
  * layer over the snapshot lake, Spark-first. */
class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Option[String] = None
  private def spark = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catalogName

  /** `/abs/path` (or `scheme:…`) identifiers address a table root
    * directly; bare names need the `warehouse` option. Namespaces are
    * out of scope — the lake's namespace IS the filesystem. */
  private def rootOf(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"snapshot catalog '$catalogName' has no namespaces: ${ident.namespace.mkString(".")}")
    val n = ident.name
    if (n.startsWith("/") || n.contains(":/")) n
    else warehouse.map(w => s"$w/$n").getOrElse(throw new IllegalArgumentException(
      s"snapshot catalog '$catalogName' needs .option(\"warehouse\", dir) to " +
        s"resolve bare table name '$n' — or address the root directly: " +
        s"$catalogName.`/path/to/table`"))
  }

  /** `name$files` / `name$history` address METADATA TABLES of `name` —
    * the Iceberg `table.files`/`table.history` inspection surfaces:
    * per-file manifest rows (path, version, schema version, row count,
    * bytes) and per-version commit-log rows (file/delete/schema entry
    * counts, files added) — small-file audits, growth dashboards,
    * commit forensics, all in plain SQL, zero data IO. */
  private def splitMeta(ident: Identifier): (Identifier, Option[String]) =
    Seq("$files", "$history").find(ident.name.endsWith) match {
      case Some(suf) =>
        (Identifier.of(ident.namespace, ident.name.stripSuffix(suf)), Some(suf))
      case None => (ident, None)
    }

  override def tableExists(ident: Identifier): Boolean = {
    val (base, _) = splitMeta(ident)
    try Snapshots.currentVersion(spark, rootOf(base)) > 0
    catch { case _: IllegalArgumentException => false }
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, -1L)

  /** `VERSION AS OF n` — the manifest version, exactly the
    * [[graft.sources.Snapshots.readSnapshot]] `version` argument. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (base, _) = splitMeta(ident)
    val root = rootOf(base)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"snapshot versions are manifest numbers; got '$version'")
    }
    requireTable(root, base)
    require(v >= 1 && v <= Snapshots.currentVersion(spark, root),
      s"version $v of $root does not exist")
    loadAt(ident, v)
  }

  private def loadAt(ident: Identifier, v: Long): Table = {
    val (base, meta) = splitMeta(ident)
    val root = rootOf(base)
    requireTable(root, base)
    meta match {
      case Some("$files") => SnapshotMetaTable.files(root, v)
      case Some("$history") => SnapshotMetaTable.history(root, v)
      case _ =>
        // schema AT the pinned version — time travel below a rename
        // reads the old names, exactly like readSnapshot
        new SnapshotBatchTable(root, v,
          SnapshotBatchSource.inferSchemaAt(spark, root, v))
    }
  }

  /** `TIMESTAMP AS OF`: Spark passes the
    * instant in MICROSECONDS; it resolves to the last version committed
    * at-or-before it via the monotonically-adjusted commit-file
    * modification times ([[graft.sources.Snapshots.versionAtTimestamp]]
    * — the Delta design; the `$history` table serves the same clocks as
    * its `commit_ts` column, so "which version was live at T" is also a
    * plain SQL question). Equal-to-a-commit-instant includes that
    * commit; before the first commit throws loudly. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (base, _) = splitMeta(ident)
    val root = rootOf(base)
    requireTable(root, base)
    loadAt(ident, Snapshots.versionAtTimestamp(spark, root,
      Math.floorDiv(timestamp, 1000L)))
  }

  private def requireTable(root: String, ident: Identifier): Unit =
    if (Snapshots.currentVersion(spark, root) == 0)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))

  /** Table roots directly under the warehouse (one filesystem listing;
    * a table is a directory holding a manifest log). */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "snapshot catalog has no namespaces")
    warehouse.fold(Array.empty[Identifier]) { w =>
      val wp = new Path(w)
      val fs = wp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(wp)) Array.empty
      else fs.listStatus(wp).filter(_.isDirectory).map(_.getPath)
        .filter(p => Manifest.isTable(spark, p.toString))
        .map(p => Identifier.of(Array.empty, p.getName))
    }
  }

  // ---------------------------------------------------------------------
  // DDL (the one-name lifecycle:
  // CREATE TABLE → INSERT → SELECT/UPDATE/MERGE/DELETE → ALTER → DROP,
  // all through one catalog name). CREATE publishes an empty
  // schema-tracked version-1 manifest; ALTER maps Spark's TableChange
  // onto the column-ID evolution commits (rename/add/drop/re-type —
  // each an ordinary claim-serialized commit, so DDL obeys the same
  // multi-writer arbitration as DML); DROP deletes the table directory
  // (the catalog's destructive verb, exactly what the user asked for —
  // time travel necessarily ends with it). RENAME TABLE stays loud:
  // a path-addressed table's name IS its location, and moving data is
  // a storage operation, not a metadata one.
  // ---------------------------------------------------------------------

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val (base, meta) = splitMeta(ident)
    require(meta.isEmpty, "cannot CREATE a $files/$history metadata table")
    require(partitions.isEmpty,
      "snapshot tables do not take PARTITIONED BY — clustering is a maintenance " +
        "op (Snapshots.commitReplaceClustered), and manifest stats already give " +
        "partition-grade pruning on any sorted ingest")
    // silently dropping a declared constraint or redirecting a declared
    // location would be a quiet lie — loud instead
    require(schema.fields.forall(_.nullable),
      "snapshot tables do not enforce NOT NULL constraints — declare the " +
        "columns nullable (validation belongs in the pipeline's dq checks)")
    Option(properties.get(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION))
      .filterNot(_.isEmpty).foreach(loc =>
        require(graft.sources.Snapshots.normPath(loc) ==
            graft.sources.Snapshots.normPath(rootOf(base)),
          s"snapshot tables are path-addressed: LOCATION '$loc' conflicts with " +
            s"the identifier's own path — drop the clause or make them agree"))
    val root = rootOf(base)
    graft.sources.Snapshots.createTable(spark, root,
      schema.fields.map(f => f.name -> f.dataType.sql).toSeq)
    new SnapshotBatchTable(root, -1L, schema)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (base, meta) = splitMeta(ident)
    require(meta.isEmpty, "cannot ALTER a $files/$history metadata table")
    val root = rootOf(base)
    requireTable(root, base)
    import org.apache.spark.sql.connector.catalog.TableChange._
    changes.foreach {
      case c: RenameColumn =>
        require(c.fieldNames.length == 1, "nested column DDL is not supported")
        graft.sources.Snapshots.renameColumn(spark, root, c.fieldNames()(0), c.newName)
      case c: AddColumn =>
        require(c.fieldNames.length == 1, "nested column DDL is not supported")
        require(c.position == null, "ADD COLUMN position hints are not supported")
        // mirror createTable: silently adding a
        // nullable column where NOT NULL was declared — pre-existing rows
        // necessarily read NULL — would be a quietly-dropped constraint
        require(c.isNullable,
          "snapshot tables do not enforce NOT NULL constraints — declare the " +
            "added column nullable (validation belongs in the pipeline's dq checks)")
        graft.sources.Snapshots.addColumn(spark, root, c.fieldNames()(0),
          c.dataType.sql)
      case c: DeleteColumn =>
        require(c.fieldNames.length == 1, "nested column DDL is not supported")
        graft.sources.Snapshots.dropColumn(spark, root, c.fieldNames()(0))
      case c: UpdateColumnType =>
        require(c.fieldNames.length == 1, "nested column DDL is not supported")
        graft.sources.Snapshots.alterColumnType(spark, root, c.fieldNames()(0),
          c.newDataType.sql)
      case other => throw new UnsupportedOperationException(
        s"snapshot catalog does not support ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val (base, meta) = splitMeta(ident)
    require(meta.isEmpty, "cannot DROP a $files/$history metadata table")
    val root = rootOf(base)
    val p = new Path(root)
    Manifest.isTable(spark, root) && Manifest.fs(spark, p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot tables are path-addressed — the name IS the location; move the " +
        "directory (or commitReplace into a new root) instead of RENAME TABLE")

  // ---------------------------------------------------------------------
  // MAINTENANCE PROCEDURES: the Iceberg
  // `CALL <catalog>.system.<verb>(...)` surface over the existing
  // engine maintenance calls — see [[SnapshotProcedures]]. Table
  // arguments resolve with the same path/warehouse rules as table
  // identifiers, so a SQL-only consumer needs nothing but the catalog.
  // ---------------------------------------------------------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"snapshot procedures live in the system namespace: " +
        s"CALL $catalogName.system.<verb>(...); got ${ident.toString}")
    SnapshotProcedures.load(resolveTableArg, ident.name)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      SnapshotProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** A procedure's `table` argument resolves exactly like a table
    * identifier: absolute path, or a bare name under `warehouse`. */
  private def resolveTableArg(t: String): String = {
    val root =
      if (t.startsWith("/") || t.contains(":/")) t
      else warehouse.map(w => s"$w/$t").getOrElse(throw new IllegalArgumentException(
        s"snapshot catalog '$catalogName' needs .option(\"warehouse\", dir) to " +
          s"resolve bare table name '$t' — or pass the absolute root"))
    require(Snapshots.currentVersion(spark, root) > 0,
      s"no snapshot table at $root")
    root
  }
}

/** A metadata table of a snapshot table: rows computed from the
  * manifests on the driver when the scan is planned (pinned then, so a
  * concurrent commit between plan and execute cannot skew them), one
  * partition, zero data IO. */
private[v2] class SnapshotMetaTable(root: String, kind: String, tableSchema: StructType,
    rows: () => Seq[Seq[Any]]) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"snapshot($root).${kind.stripPrefix("$")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new SnapshotAggScan(tableSchema, rows(), s"snapshot($root) $kind (manifest-only)")
}

private[v2] object SnapshotMetaTable {
  import org.apache.spark.sql.types._

  /** `$files`: one row per data file of a version — path, the version
    * that committed it, the schema version it was written under, and
    * the reserved `__rows`/`__bytes` stats (NULL where a file has no
    * stats): small-file audits and stats-coverage checks. */
  def files(root: String, version: Long): SnapshotMetaTable =
    new SnapshotMetaTable(root, "$files", StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("schema_version", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("size_bytes", LongType, nullable = true))), () =>
      Snapshots.fileInfos(SparkSession.active, root, version).map {
        case (p, v, sid, nRows, nBytes) =>
          Seq(org.apache.spark.unsafe.types.UTF8String.fromString(p),
            v, sid, nRows.orNull, nBytes.orNull)
      })

  /** `$history`: one row per surviving version up to `version` — how
    * many data/delete/schema entries its manifest lists, how many data
    * files it added over the previous version, and its commit
    * wall-clock, the one `TIMESTAMP AS OF` resolves against. A REPLACE
    * shows as added > 0 with the listed count dropping, a delete commit
    * as n_delete_files rising with added = 0. */
  def history(root: String, version: Long): SnapshotMetaTable =
    new SnapshotMetaTable(root, "$history", StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_data_files", LongType, nullable = false),
      StructField("n_delete_files", LongType, nullable = false),
      StructField("n_schema_entries", LongType, nullable = false),
      StructField("added_files", LongType, nullable = false),
      StructField("commit_ts", TimestampType, nullable = false))), () => {
      val spark = SparkSession.active
      // keyed by version: both walks serve only surviving versions
      val timeOf = Manifest.commitTimesMillis(spark, root, version).toMap
      Snapshots.historyInfos(spark, root, version).map { case (v, a, d, s, add) =>
        Seq[Any](v, a, d, s, add, timeOf(v) * 1000L) // catalyst micros
      }
    })
}
