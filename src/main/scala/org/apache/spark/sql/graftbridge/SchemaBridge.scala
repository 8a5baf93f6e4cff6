package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge to `private[sql]` schema helpers: `StructType.merge`, the
  * additive merge that parquet schema inference applies across footers
  * under `mergeSchema = true`, and
  * `DataType.equalsIgnoreCompatibleNullability`, true when a `from`
  * value is a valid `to` value as is (same type, `from` no more
  * nullable), and `asNullable`, the nullability a file source reads a
  * data schema with. Visibility shim only. */
object SchemaBridge {
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  def equalsIgnoreCompatibleNullability(from: DataType, to: DataType): Boolean =
    DataType.equalsIgnoreCompatibleNullability(from, to)

  def asNullable(s: StructType): StructType = s.asNullable
}
