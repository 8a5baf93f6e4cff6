package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

import graft.sources.Snapshots

/** SQL-reachable lake MAINTENANCE: the
  * Spark 4 procedure-catalog hook, the Iceberg `CALL system.*`
  * convention — a SQL-only consumer (the reference's dashboard persona,
  * synapseformation_templates/default.yaml:5-10, which owns no
  * driver code) can now run every maintenance verb the API exposes:
  *
  * {{{
  *   CALL snap.system.compact(table => '/lake/t', sort_cols => 'id', num_files => 8)
  *   CALL snap.system.zorder(table => '/lake/t', key_a => 'a', key_b => 'b', num_files => 8)
  *   CALL snap.system.vacuum(table => '/lake/t', keep_from => 7)
  *   CALL snap.system.remove_orphans(table => '/lake/t', grace_seconds => 259200)
  * }}}
  *
  * Each verb is the EXISTING engine call — compact/zorder ride the
  * validated read-modify-write REPLACE loop (concurrent commits abort
  * and retry, never lost), vacuum/remove_orphans the explicit
  * destructive janitors — so SQL and API callers share one arbiter and
  * one semantics; the procedure returns a one-row result Scan (new
  * version / files touched) the CALL surfaces as an ordinary result
  * set. Table arguments resolve exactly like table identifiers
  * (absolute path, or a bare name under the catalog's `warehouse`). */
private[graft] object SnapshotProcedures {

  val Names: Seq[String] = Seq("compact", "zorder", "vacuum", "remove_orphans")

  private def spark = SparkSession.active

  private def in(name: String, dt: DataType, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).comment(comment).build()

  /** One self-binding procedure: parameters are declared up front and
    * Spark's ProcedureArgumentCoercion aligns the CALL's literals
    * (positional or named) to them before `call` runs. */
  private abstract class Proc(procName: String,
      params: Seq[ProcedureParameter], resultSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"snapshot maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false // side-effecting maintenance
    protected def run(input: InternalRow): Seq[Any]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // procedure output must be a LocalScan (Spark's InvokeProcedures
      // materializes it driver-side into a LocalRelation)
      val row = InternalRow.fromSeq(run(input))
      val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = resultSchema
        override def description(): String = s"CALL $procName (one-row result)"
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  private def nFiles(root: String): Long =
    Snapshots.fileInfos(spark, root, -1L).size.toLong

  def load(resolveRoot: String => String, name: String): UnboundProcedure =
    name match {
      case "compact" => new Proc("compact",
        Seq(in("table", StringType, "table root or bare warehouse name"),
          in("sort_cols", StringType, "comma-separated clustering sort columns"),
          in("num_files", IntegerType, "target data file count")),
        StructType(Seq(StructField("new_version", LongType, nullable = false),
          StructField("n_files", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): Seq[Any] = {
          val root = resolveRoot(input.getUTF8String(0).toString)
          val cols = input.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val v = Snapshots.commitReplaceClustered(spark, root, cols,
            input.getInt(2))
          Seq(v, nFiles(root))
        }
      }
      case "zorder" => new Proc("zorder",
        Seq(in("table", StringType, "table root or bare warehouse name"),
          in("key_a", StringType, "first z-order key"),
          in("key_b", StringType, "second z-order key"),
          in("num_files", IntegerType, "target data file count")),
        StructType(Seq(StructField("new_version", LongType, nullable = false),
          StructField("n_files", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): Seq[Any] = {
          val root = resolveRoot(input.getUTF8String(0).toString)
          val v = Snapshots.commitReplaceZOrdered(spark, root,
            input.getUTF8String(1).toString, input.getUTF8String(2).toString,
            input.getInt(3))
          Seq(v, nFiles(root))
        }
      }
      case "vacuum" => new Proc("vacuum",
        Seq(in("table", StringType, "table root or bare warehouse name"),
          in("keep_from", LongType, "earliest version to keep (time travel below it ends)")),
        StructType(Seq(StructField("files_deleted", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): Seq[Any] =
          Seq(Snapshots.vacuum(spark, resolveRoot(input.getUTF8String(0).toString),
            input.getLong(1)))
      }
      case "remove_orphans" => new Proc("remove_orphans",
        Seq(in("table", StringType, "table root or bare warehouse name"),
          in("grace_seconds", LongType,
            "only unreferenced files older than this are swept (must exceed any write-to-publish span)")),
        StructType(Seq(StructField("files_deleted", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): Seq[Any] =
          Seq(Snapshots.removeOrphanFiles(spark,
            resolveRoot(input.getUTF8String(0).toString),
            input.getLong(1) * 1000L))
      }
      case other => throw new IllegalArgumentException(
        s"unknown snapshot procedure 'system.$other' — available: " +
          Names.mkString(", "))
    }
}
