package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** A DataFrame over an already-built logical plan: re-exports the
  * `private[sql]` `Dataset.ofRows`, so the engine can read a table
  * through a `DataSourceV2Relation` it constructed itself instead of
  * through option strings. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Explain text under `spark.sql.redaction.string.regex`, replaced the
    * way Spark's own scans redact theirs (`Utils.redact` is
    * `private[spark]`). */
  def redact(text: String): String =
    org.apache.spark.util.Utils.redact(SQLConf.get.stringRedactionPattern, text)
}
