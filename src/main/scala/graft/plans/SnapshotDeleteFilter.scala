package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{SnapshotRead, Snapshots}
import graft.sources.v2.{ScopedDeletes, SnapshotDeleteSets}

/** The merge-on-read delete scope of one snapshot read, baked into
  * [[SnapshotDeleteFilter]] (the [[CentroidIndex]] reference-object
  * pattern): each data file's scoped deletes as the read plan gives
  * them ([[SnapshotRead.plan]]), keyed by the file's bare path
  * ([[Snapshots.normPath]]). Their key sets load through the
  * executor-cached [[SnapshotDeleteSets]], the same loader and matcher
  * the DSv2 reader uses. `DeleteSpec.keyIdx` indexes the filter's key
  * children. */
final class DeleteScope(fileDeletes: Map[String, Seq[SnapshotRead.DeleteSpec]],
    confEntries: Array[(String, String)]) extends Serializable {

  // the last file seen and its scope: rows arrive file by file, so the
  // path is decoded once per file; one reference keeps the pair atomic
  @transient @volatile private var last: (UTF8String, ScopedDeletes) = _

  /** The deletes in scope for the data file `filePath`, a
    * `_metadata.file_path` value (a URL-encoded URI). */
  def scoped(filePath: UTF8String): ScopedDeletes = {
    val l = last
    if (l != null && l._1 == filePath) return l._2
    val s = SnapshotDeleteSets.scope(fileDeletes.getOrElse(
      DeleteScope.barePath(filePath.toString), throw new IllegalStateException(
        s"$filePath is not a data file of this snapshot read")), confEntries)
    last = (filePath.clone(), s)
    s
  }

  override def toString: String =
    s"DeleteScope(${fileDeletes.size} data files, " +
      s"${fileDeletes.values.flatten.toSet.size} delete files)"
}

object DeleteScope {
  /** The bare path of a `_metadata.file_path` URI: decoded, scheme and
    * authority dropped — equal to [[Snapshots.normPath]] of the
    * manifest's path for the same file. */
  def barePath(fileUri: String): String = Snapshots.normPath(new java.net.URI(fileUri).getPath)
}

/** `snapshot_delete_filter(file_path, key…)`: true iff the row survives
  * the merge-on-read deletes in `scope` — no delete file committed after
  * the row's data file holds its key tuple. Codegen'd, and it evaluates
  * the keys only for files that some delete scopes. Never NULL. */
case class SnapshotDeleteFilter(children: Seq[Expression], scope: DeleteScope)
    extends Expression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "snapshot_delete_filter"

  override def eval(input: InternalRow): Any = {
    val s = scope.scoped(children.head.eval(input).asInstanceOf[UTF8String])
    s.isEmpty || {
      val keys = new Array[Any](children.length - 1)
      var i = 0
      while (i < keys.length) { keys(i) = children(i + 1).eval(input); i += 1 }
      !s.deletes(keys)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deleteScope", scope, classOf[DeleteScope].getName)
    val path = children.head.genCode(ctx)
    val keyEvs = children.tail.map(_.genCode(ctx))
    val sd = ctx.freshName("scoped")
    val keys = ctx.freshName("keys")
    // no stripMargin: child code is spliced in verbatim
    val setKeys = keyEvs.zip(children.tail).zipWithIndex.map { case ((k, e), i) =>
      val boxed = if (CodeGenerator.isPrimitiveType(e.dataType))
        s"${CodeGenerator.boxedType(e.dataType)}.valueOf(${k.value})" else s"${k.value}"
      s"${k.code}\n$keys[$i] = ${k.isNull} ? null : (Object) $boxed;"
    }.mkString("\n")
    ev.copy(code = code"""
${path.code}
${classOf[ScopedDeletes].getName} $sd = $ref.scoped(${path.value});
boolean ${ev.value} = true;
if (!$sd.isEmpty()) {
  Object[] $keys = new Object[${keyEvs.length}];
  $setKeys
  ${ev.value} = !$sd.deletes($keys);
}""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object SnapshotDeleteFilter {
  /** The keep-predicate over `_metadata.file_path` and the key columns. */
  def keep(filePath: Column, keys: Seq[Column], scope: DeleteScope): Column =
    ColumnBridge.column(SnapshotDeleteFilter(
      (filePath +: keys).map(ColumnBridge.expression), scope))
}
