package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Snapshots

/** GROUP-BASED copy-on-write row-level operations for the snapshot
  * lake: implementing `SupportsRowLevelOperations` on
  * [[SnapshotBatchTable]] lets Spark's
  * own analyzer rewrites (`RewriteUpdateTable`, `RewriteMergeIntoTable`,
  * `RewriteDeleteFromTable`) serve the two DML verbs the catalog was
  * missing —
  *
  * {{{
  *   spark.sql("UPDATE snap.`/lake/t` SET v = v + 1 WHERE id < 10")
  *   spark.sql("MERGE INTO snap.`/lake/t` t USING src s ON t.id = s.id " +
  *             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  * }}}
  *
  * The contract is Iceberg's group-based (copy-on-write) mode, where a
  * GROUP = one data file:
  *
  *  - Spark builds a `ReplaceData` plan: it reads the affected groups
  *    through [[RowLevelOperation.newScanBuilder]] (the ordinary
  *    [[SnapshotScanBuilder]], so the UPDATE/DELETE condition pushes
  *    down and MANIFEST STATS PRUNE the candidate files — an
  *    `UPDATE … WHERE day = X` on a clustered table rewrites only the
  *    files whose range contains X, never the table), applies the
  *    update/merge expressions to matching rows and passes the others
  *    through, and writes the groups' NEW content through
  *    [[RowLevelOperation.newWriteBuilder]] — the lake's one writer
  *    ([[SnapshotFileWriter]]), so tables of any column type rewrite;
  *  - this operation object is the scan↔write link: the scan records
  *    the files it actually planned and the version it pinned; the
  *    write's commit swaps EXACTLY those files for the written ones in
  *    one atomic version ([[graft.sources.Snapshots.commitRewriteFiles]]).
  *
  * CONCURRENCY (spec-pinned): the rewrite is a validated
  * read-modify-write — the commit aborts loudly when any scanned file
  * was concurrently rewritten away, or when a delete/schema entry landed
  * after the pinned version (it would apply to the pre-image this
  * rewrite consumed). Concurrent APPENDS pass through untouched:
  * snapshot-isolation semantics, Iceberg's validate-and-retry posture.
  *
  * Runtime (DPP-style) filters are IGNORED on a row-level scan: for a
  * MERGE with NOT-MATCHED-BY-SOURCE clauses, pruning target files by
  * source join keys would skip exactly the files whose rows must be
  * deleted/updated — group completeness beats the optimization, so the
  * scan takes only compile-time (condition) pruning. Merge-on-read
  * equality deletes still apply inside the scan, so the rewritten files
  * materialize them away for the affected groups.
  *
  * Equality-shaped SQL DELETEs keep their cheap path: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts the rewritten plan
  * back to [[SnapshotBatchTable.deleteWhere]] (one key file + one
  * manifest commit) whenever `canDeleteWhere` accepts the condition —
  * copy-on-write only pays for the shapes merge-on-read cannot express
  * (ranges, OR trees, subquery-free non-equality predicates).
  *
  * Reference anchor: the reference's retype-then-overwrite posture
  * (src/copy_from_template.py:164-232) is an UPDATE in SQL terms; this
  * is that verb served declaratively over the snapshot lake. */
private[v2] class SnapshotRowLevelOperation(root: String,
    tableSchema: StructType, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  // set by the scan at planning (driver side): the files the rewrite
  // consumed and the version it read them at — the write's commit
  // validates and swaps exactly these
  @volatile private[v2] var scannedPaths: Seq[String] = _
  @volatile private[v2] var scanVersion: Long = -1L

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(root, -1L, tableSchema, rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        // the write half: ReplaceData rows lead with __row_operation;
        // the commit swaps the scanned files for the written ones
        override def toBatch: BatchWrite = {
          val schema = info.schema()
          new SnapshotBatchWrite(root, schema, opColumn = true)({ files =>
            require(scannedPaths != null,
              "row-level write committed before its scan planned any files")
            // every candidate file pruned away = the condition matched
            // nothing: the table is untouched, publish no version
            if (scannedPaths.nonEmpty || files.nonEmpty)
              Snapshots.commitRewriteFiles(SparkSession.active, root, scannedPaths,
                files, schema, scanVersion)
          })
        }
      }
    }

  override def description(): String = s"snapshot($root) $cmd copy-on-write"
}

private[v2] object SnapshotRowLevel {
  /** The builder [[SnapshotBatchTable.newRowLevelOperationBuilder]]
    * returns — one operation object per command, shared by its scan and
    * write. */
  def builder(root: String, tableSchema: StructType,
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new SnapshotRowLevelOperation(root, tableSchema, info.command())
    }
}
