package org.apache.spark.graftshim

import org.apache.spark.sql.types.StructType

/** Narrow access shim: `StructType.asNullable` is private[spark]. A parquet
  * read turns every field nullable, so a schema recorded for a later
  * `spark.read.schema(...)` is kept in that form and compares equal to
  * what the read returns. */
object SchemaAccess {
  def asNullable(s: StructType): StructType = s.asNullable
}
