package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.execution.datasources.parquet.ParquetRowConverter

/** INT96 timestamp decoding for graft's own parquet readers. Spark keeps
  * its decoder `private[parquet]`; this shim re-exports it so INT96
  * columns (Spark's default writer output, imported Hive tables) decode
  * exactly as Spark's reader decodes them, without a rebase. */
object Int96Bridge {
  def micros(b: Binary): Long = ParquetRowConverter.binaryToSQLTimestamp(b)
}
