package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.types.StructType

/** Compile-time access shim for `StructType.asNullable` (private[spark]):
  * the schema with every field, element and value nullable, as a file
  * source's read makes its inferred data schema.
  */
object AsNullable {
  def apply(schema: StructType): StructType = schema.asNullable
}
