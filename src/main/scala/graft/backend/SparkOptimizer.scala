package graft.backend

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Session tuning — the Scala twin of the reference's
  * easy_sql/spark_optimizer.py (get_spark :30-58, SparkDynamicConfig
  * :6-27) and local_spark.py.
  *
  * Conf mapping notes:
  *  - `spark.sql.adaptive.shuffle.targetPostShuffleInputSize` (128 MB,
  *    spark_optimizer.py:43) is the Spark 2 name; its Spark 3+/4
  *    successor is `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  *    set here to the same 134217728.
  *  - the Spark-2-only dynamic-allocation branch (:47-51) has no
  *    Spark 4 counterpart and is dropped.
  */
object SparkOptimizer {

  /** get_spark: apply caller conf, then the engine's standing tuning:
    * AQE on, 128 MB post-shuffle target, hdfs-stats fallback, nonstrict
    * dynamic partitions. */
  def getSpark(appName: Option[String] = None,
      conf: Map[String, String] = Map.empty,
      enableHive: Boolean = false): SparkSession = {
    var builder = SparkSession.builder()
    if (enableHive) builder = builder.enableHiveSupport()
    appName.foreach(n => builder = builder.config("spark.app.name", n))
    conf.foreach { case (k, v) => builder = builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.conf.set("spark.sql.statistics.fallBackToHdfs", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "134217728")
    spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
    spark
  }

  /** clear_temp_views (spark_optimizer.py:62-66). */
  def clearTempViews(spark: SparkSession): Unit =
    spark.catalog.listTables("default").collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
}

/** Manual shuffle sizing that trades AQE away for a pinned partition
  * count (SparkDynamicConfig, spark_optimizer.py:6-27) — exposed to
  * ETLs via the `set_shuffle_partitions` func; use the min/max pair
  * when a pipeline alternates small dimension builds with wide fact
  * shuffles. */
final class SparkDynamicConfig(
    maxShufflePartitions: Option[Int] = None,
    minShufflePartitions: Option[Int] = None) {

  private def pin(spark: SparkSession, n: Int): SparkDynamicConfig = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    spark.conf.set("spark.default.parallelism", n.toString)
    this
  }

  def useMinShufflePartitions(spark: SparkSession): SparkDynamicConfig =
    pin(spark, minShufflePartitions.getOrElse(throw new IllegalArgumentException(
      "must provide min_shuffle_partitions to use the conf")))

  def useMaxShufflePartitions(spark: SparkSession): SparkDynamicConfig =
    pin(spark, maxShufflePartitions.getOrElse(throw new IllegalArgumentException(
      "must provide max_shuffle_partitions to use the conf")))

  def useAdaptiveShufflePartitions(spark: SparkSession): SparkDynamicConfig = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    this
  }
}

/** A constant select — `select 2 as m_0, 'X' as seg_0`, a `variables`
  * step's usual shape — plans as a Project over `OneRowRelation`, and
  * collecting it runs a Spark job (plus a whole-stage class compiled
  * for each distinct literal set). When every projected expression is
  * foldable, this rule evaluates the one row while planning and replaces
  * the Project with a `LocalRelation` of the same output, which Spark
  * plans as a `LocalTableScan` and collects without a job. The values
  * still leave through Spark's deserializer, so their types do not
  * change. Nondeterministic expressions (`rand()`) are not foldable and
  * keep their plan; so does a row whose evaluation throws, so the error
  * surfaces from execution as before.
  *
  * Clusters install it with `spark.sql.extensions=graft.GraftExtensions`;
  * [[graft.etl.SqlProcessor]] adds it to its session through
  * [[register]]. */
object ConstantSelectToLocalRelation extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, OneRowRelation()) if list.forall(foldable) =>
      try LocalRelation(p.output, Seq(InternalRow.fromSeq(list.map(_.eval()))))
      catch { case NonFatal(_) => p }
  }

  // an Alias reports foldable = false whatever its child is
  private def foldable(e: NamedExpression): Boolean = e match {
    case a: Alias => a.child.foldable
    case other => other.foldable
  }

  /** Add the rule to `spark`'s optimizer once; repeated calls (one per
    * `SqlProcessor`) leave it there once. */
  def register(spark: SparkSession): Unit = synchronized {
    val em = spark.experimental
    if (!em.extraOptimizations.contains(this))
      em.extraOptimizations = em.extraOptimizations :+ this
  }
}
