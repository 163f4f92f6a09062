package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Spec access to two private Spark members. */
object SparkTestBridge {
  /** Waits until every event posted so far has reached the listeners:
    * specs that count jobs or SQL executions read their counters after
    * this. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The optimizer rules `ext` injects into a session. */
  def optimizerRules(ext: SparkSessionExtensions,
      s: SparkSession): Seq[Rule[LogicalPlan]] = ext.buildOptimizerRules(s)
}
