package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Observable scan work for the connector specs: what the scan node
  * emitted, read from Spark's own SQL metrics after the query ran. */
object ScanMetrics extends AdaptiveSparkPlanHelper {

  /** Runs `df` and returns the rows its snapshot scan nodes output —
    * the rows of every row group the parquet reader did not skip
    * (tombstoned rows excluded), before any residual filter. */
  def scanRows(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.metrics("numOutputRows").value
    }.sum
  }

  /** Runs `f` with the session conf `key` set to `value`, restoring it. */
  def withConf[A](spark: SparkSession, key: String, value: String)(
      f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
