package org.apache.spark.sql

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.command.CreateViewCommand

/** Bridge into Spark's private[sql] Column↔Expression converters so graft
  * can expose native Catalyst expressions as user-facing Columns (the
  * supported pattern for third-party expression libraries on Spark 4's
  * ColumnNode API), into `Dataset.ofRows`, which turns a logical
  * plan (the snapshot connector's DSv2 relation) into a DataFrame, and
  * into the temp-view command behind `createOrReplaceTempView`. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** `df.createOrReplaceTempView(name)` without a SQL execution: the
    * same `CreateViewCommand` (analyzed plan, replace, local temp view)
    * runs directly. `Dataset.createOrReplaceTempView` wraps it in a query
    * execution of its own — command analysis and planning, an explain
    * string of the whole view plan for the execution-start event, and
    * listener traffic. `run` keeps the command's own work: the
    * temp-object checks, and uncaching a replaced view whose plan
    * changed. */
  def registerView(df: DataFrame, name: String): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val s = ds.sparkSession
    s.withActive {
      val parts =
        try s.sessionState.sqlParser.parseMultipartIdentifier(name)
        catch { case _: ParseException =>
          throw QueryCompilationErrors.invalidViewNameError(name) }
      if (!s.sessionState.conf.allowsTempViewCreationWithMultipleNameparts &&
          parts.size > 1)
        throw new AnalysisException("TEMP_VIEW_NAME_TOO_MANY_NAME_PARTS",
          Map("actualName" -> name))
      CreateViewCommand(
        name = TableIdentifier(parts.last),
        userSpecifiedColumns = Nil,
        comment = None,
        collation = None,
        properties = Map.empty,
        originalText = None,
        plan = ds.logicalPlan,
        allowExisting = false,
        replace = true,
        viewType = LocalTempView,
        isAnalyzed = true).run(s)
    }
  }
}
