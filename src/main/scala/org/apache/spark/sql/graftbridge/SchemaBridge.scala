package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** Bridge to `StructType.merge` (private[sql]): the additive merge that
  * parquet schema inference applies across footers under
  * `mergeSchema = true`. Visibility shim only. */
object SchemaBridge {
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
