package graft.etl

import org.apache.spark.sql.SparkSession

import graft.backend.{Backend, SaveMode, SparkBackend, TableLike, TableMeta, TablePartition}
import graft.core._

object StepStatus {
  val NotStarted = "NOT_STARTED"
  val Running = "RUNNING"
  val Succeeded = "SUCCEEDED"
  val Failed = "FAILED"
  val Skipped = "SKIPPED"
}

/** Per-step status/message collector (reference report.py, simplified to
  * in-memory + stdout — no HDFS/ES sinks in a sandboxed deployment). */
final class Reporter {
  final case class StepReport(step: Step, var status: String = StepStatus.NotStarted,
      messages: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer(),
      var startTime: Long = 0L, var endTime: Long = 0L,
      var executionTime: Double = 0.0)
  private val reports = scala.collection.mutable.LinkedHashMap[String, StepReport]()
  private val processStart = System.currentTimeMillis()

  def init(steps: Seq[Step]): Unit =
    steps.foreach(s => reports(s.id) = StepReport(s))
  def collect(step: Step, status: Option[String] = None,
      message: Option[String] = None): Unit = {
    val r = reports.getOrElseUpdate(step.id, StepReport(step))
    // timing protocol from the reference (report.py:26-37): RUNNING
    // stamps the start; a terminal status stamps the end + duration
    status.foreach { st =>
      if (st == StepStatus.Running) r.startTime = System.currentTimeMillis()
      if (st == StepStatus.Failed || st == StepStatus.Succeeded) {
        r.endTime = System.currentTimeMillis()
        val from = if (r.startTime > 0) r.startTime else r.endTime
        r.executionTime = (r.endTime - from) / 1000.0
      }
      r.status = st
    }
    message.foreach(r.messages += _)
  }
  def statusOf(step: Step): String =
    reports.get(step.id).map(_.status).getOrElse(StepStatus.NotStarted)
  def reportOf(step: Step): Option[StepReport] = reports.get(step.id)

  /** Machine-readable task report — the payload the reference ships to
    * HDFS/ES (report.py:65-80); callers pick the sink. */
  def reportAsJson(taskId: String): String = {
    val q = Reporter.jsonQuote _
    val steps = reports.values.map { r =>
      s"""{"id": ${q(r.step.id)}, "status": ${q(r.status)}, """ +
      s""""start_time": ${r.startTime}, "end_time": ${r.endTime}, """ +
      s""""execution_time": ${r.executionTime}, """ +
      s""""messages": [${r.messages.map(q).mkString(", ")}]}"""
    }.mkString("[", ", ", "]")
    s"""{"task_id": ${q(taskId)}, "steps": $steps}"""
  }

  /** File report sink shorthand — see [[FileReportSink]]. */
  def writeReport(taskId: String, path: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Unit =
    new FileReportSink(path, hadoopConf).ship(taskId, reportAsJson(taskId))
  def printReport(): Unit = {
    val total = math.max((System.currentTimeMillis() - processStart) / 1000.0,
      0.001)
    val lines = reports.values.map { r =>
      val timing =
        if (r.endTime > 0)
          f" (${r.executionTime}%.3fs - ${r.executionTime / total * 100}%.2f%%)"
        else ""
      s"  ${r.step.id}[${r.status}]$timing ${r.step.targetConfig.getOrElse("")}" +
        (if (r.messages.nonEmpty) s" -- ${r.messages.mkString("; ")}" else "")
    }
    println(s"=== sql processor report (total ${total}s) ===\n" +
      lines.mkString("\n"))
  }
}

object Reporter {
  /** Full JSON string escaping — step messages can carry tabs, CRs and
    * other control characters (e.g. from SQL text or exception
    * messages), and a partially-escaped report is invalid JSON for the
    * monitor that consumes it. */
  private[etl] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

final class SqlCollector {
  private val sqls = scala.collection.mutable.ArrayBuffer[String]()
  def collectSql(sql: String): Unit = if (sql.nonEmpty) sqls += sql
  def collectedSql: String = sqls.mkString("\n\n")
}

/** The engine: parses an Easy-SQL text into steps and executes them
  * against a [[graft.backend.Backend]] (reference
  * easy_sql/sql_processor/sql_processor.py + step.py write dispatch). On
  * the primary Spark backend all relational execution is delegated to
  * Catalyst via `spark.sql`; the same step list drives JDBC warehouses
  * through [[graft.backend.rdb.RdbBackend]].
  */
final class SqlProcessor(
    val backend: Backend,
    val sql: String,
    variables: Map[String, Any] = Map.empty,
    templates: Map[String, String] = Map.empty,
    includes: Map[String, String] = Map.empty,
    extraCols: Seq[(String, String)] = Nil, // (name, sql expression)
    baseDir: Option[String] = None,
    skipDuplicateInclude: Boolean = false,
    // task-report sinks (reference sql_processor.py:56-59 +
    // report.py:87-143): reportPath is the file-sink analog of
    // report_hdfs_path — a Hadoop FS path, so file:/, hdfs:/ and s3:/
    // all work on a cluster; reportSinks adds arbitrary extra sinks
    // (e.g. EsReportSink, the report_es_url analog)
    reportTaskId: Option[String] = None,
    reportPath: Option[String] = None,
    reportSinks: Seq[ReportSink] = Nil) {

  def this(spark: SparkSession, sql: String) =
    this(new SparkBackend(spark), sql)

  val varsContext = new VarsContext(variables)
  val templatesContext = new TemplatesContext(templates)
  val funcRunner = new FuncRunner(FuncRunner.systemFuncs)
  varsContext.init(funcRunner)
  backend match {
    case sb: SparkBackend =>
      funcRunner.registerFuncs(
        graft.functions.SparkFuncs.all(sb, varsContext))
      graft.functions.Udfs.registerAll(sb.spark)
      // native Catalyst expressions and the constant-select rule for
      // every ETL's SQL (the cluster path registers them via
      // GraftExtensions instead)
      graft.functions.MinHashMd5.register(sb.spark)
      graft.functions.MinHashBands.register(sb.spark)
      graft.functions.ArrayDotLong.register(sb.spark)
      graft.functions.QuantizeLong.register(sb.spark)
      graft.functions.NgramShingles.register(sb.spark)
      graft.backend.ConstantSelectToLocalRelation.register(sb.spark)
    case rb: graft.backend.rdb.RdbBackend =>
      funcRunner.registerFuncs(graft.functions.RdbFuncs.all(rb, varsContext))
      rb.initUdfs() // warehouse-side UDF surface (reference rdb.py:508)
    case _ => ()
  }

  private val stepFactory = new StepFactory(includes, None, baseDir,
    skipDuplicateInclude)
  val stepList: Seq[Step] = stepFactory.createFromSql(sql)
  val reporter = new Reporter
  reporter.init(stepList)
  val sqlCollector = new SqlCollector

  def vars: Map[String, Any] = varsContext.vars
  def addVars(vs: Map[String, Any]): Unit = varsContext.addVars(vs)
  def setVars(vs: Map[String, Any]): Unit = varsContext.setVars(vs)
  def registerFuncs(fs: Map[String, Seq[Any] => Any]): Unit =
    funcRunner.registerFuncs(fs)

  def run(dryRun: Boolean = false): Unit = {
    var runFailed = false
    try stepList.foreach(step => runStep(step, dryRun))
    catch { case e: Throwable => runFailed = true; throw e }
    finally {
      reporter.printReport()
      // ship the machine-readable report even when a step failed —
      // that is when an external monitor needs it most. Every sink is
      // attempted (one broken monitor must not starve the others); sink
      // failures only surface as the run's failure when the ETL itself
      // succeeded, so they never mask the original step error.
      val hadoopConf = backend match {
        case sb: SparkBackend => sb.spark.sparkContext.hadoopConfiguration
        case _ => new org.apache.hadoop.conf.Configuration()
      }
      val sinks = reportPath.map(p => new FileReportSink(p, hadoopConf))
        .toSeq ++ reportSinks
      if (sinks.nonEmpty) {
        val taskId = reportTaskId.getOrElse(
          s"graft_task_${System.currentTimeMillis()}")
        val json = reporter.reportAsJson(taskId)
        val errs = sinks.flatMap { sink =>
          try { sink.ship(taskId, json); None }
          catch { case e: Exception =>
            System.err.println(
              s"[report] ${sink.describe} failed: ${e.getMessage}")
            Some(sink.describe -> e)
          }
        }
        if (errs.nonEmpty && !runFailed)
          throw new RuntimeException(
            s"task report shipping failed: ${errs.map(_._1).mkString(", ")}",
            errs.head._2)
      }
    }
  }

  def runStep(step: Step, dryRun: Boolean): Unit = {
    try {
      // meta vars for function access (reference sql_processor.py:160-165)
      varsContext.addVars(Map(
        "__step__" -> step, "__context__" -> varsContext,
        "__backend__" -> backend, "__dry_run__" -> dryRun))
      if (!shouldRun(step)) {
        reporter.collect(step, Some(StepStatus.Skipped))
        return
      }
      reporter.collect(step, Some(StepStatus.Running))
      val df = read(step)
      write(step, df, dryRun)
      step.executedSql.foreach(sqlCollector.collectSql)
      reporter.collect(step, Some(StepStatus.Succeeded))
    } catch {
      case e: Exception =>
        reporter.collect(step, Some(StepStatus.Failed), Some(e.getMessage))
        vars.get("__exception_handler__") match {
          case Some(h) if h != null && Coerce.toStr(h).nonEmpty =>
            val funcName = Coerce.toStr(h).replace("{", "${")
            funcRunner.runFunc(funcName, varsContext)
          case _ => throw e
        }
    }
  }

  private def shouldRun(step: Step): Boolean = {
    val config = step.targetConfig.getOrElse(return false)
    if (vars.get("__skip_all__").exists(Coerce.isTrueFlag)) return false
    if (!config.hasCondition) return true
    val cond = config.condition.get
    step.renderedCondition = Some(funcRunner.renderFuncCall(cond, varsContext))
    Coerce.truthy(funcRunner.runFunc(cond, varsContext))
  }

  private def skipCheck: Boolean =
    vars.get("__no_check__").exists(Coerce.isTrueFlag)

  private def read(step: Step): Option[TableLike] = {
    val config = step.targetConfig.get
    if (config.stepType == StepType.Template ||
        (config.stepType == StepType.Check && skipCheck))
      return Some(backend.createEmptyTable())
    if (config.isTargetNameAFunc) {
      step.selectSql.foreach(_ => preprocessSelectSql(step))
      return Some(backend.createEmptyTable())
    }
    preprocessSelectSql(step)
    if (config.stepType == StepType.Action) {
      backend.execNativeSql(step.selectSql.get)
      None
    } else Some(backend.execSql(step.selectSql.get))
  }

  private def preprocessSelectSql(step: Step): Unit = {
    val raw = step.selectSql.getOrElse(throw new SqlProcessorException(
      s"There must be a sql expression for step: $step"))
    // templates first, then variables (reference step.py:289-292)
    val t = templatesContext.replaceTemplates(raw)
    step.selectSql = Some(varsContext.replaceVariables(t))
  }

  private def write(step: Step, table: Option[TableLike],
      dryRun: Boolean): Unit = {
    val config = step.targetConfig.get
    val df = table.getOrElse(return)

    config.stepType match {
      case StepType.Variables =>
        if (df.fieldNames.nonEmpty) {
          val row = df.firstRow
          val newVars = df.fieldNames.zipWithIndex.map {
            case (name, i) =>
              name -> (if (row(i) == null) null else Coerce.toStr(row(i)))
          }.toMap
          varsContext.addVars(newVars)
        }

      case StepType.ListVariables =>
        if (df.fieldNames.nonEmpty) {
          val rows = df.collectRows()
          val lists = df.fieldNames.zipWithIndex.map {
            case (name, i) => name -> rows.map(_(i))
          }.toMap
          varsContext.addListVars(lists)
        }

      case StepType.Template =>
        templatesContext.addTemplates(
          Map(config.name.get -> step.selectSql.get))

      case StepType.Temp =>
        backend.createTempTable(df, config.name.get)
        step.executedSql = Some(s"-- create temp view ${config.name.get}")

      case StepType.Cache =>
        if (vars.get("__no_cache__").exists(Coerce.isTrueFlag))
          backend.createTempTable(df, config.name.get)
        else backend.createCacheTable(df, config.name.get)

      case StepType.Broadcast =>
        backend.broadcastTable(df, config.name.get)

      case StepType.Log =>
        if (!vars.get("__no_log__").exists(Coerce.isTrueFlag))
          writeForLogStep(step, df)

      case StepType.Func =>
        val funcDef = config.name.get
        step.renderedName = Some(funcRunner.renderFuncCall(funcDef, varsContext))
        funcRunner.runFunc(funcDef, varsContext)

      case StepType.Check =>
        if (!skipCheck) writeForCheckStep(step, df)

      case StepType.Hive | StepType.Output =>
        writeForOutputStep(step, df, dryRun)

      case StepType.Action => ()

      case other =>
        throw new SqlProcessorException(s"unknown step type: $other")
    }
  }

  // Spark Row.toString formatting, so log messages are engine-independent
  private def rowStr(row: Seq[Any]): String =
    row.map(v => if (v == null) "null" else v.toString)
      .mkString("[", ",", "]")

  private def writeForLogStep(step: Step, df: TableLike): Unit = {
    val name = step.targetConfig.get.name.getOrElse("log")
    // one execution: the 21st row only tells show there are more
    val rows = df.limit(21).collectRows()
    if (rows.isEmpty) {
      reporter.collect(step, message = Some("no data to show"))
    } else if (rows.length == 1) {
      reporter.collect(step, message = Some(rowStr(rows(0))))
      println(s"log for [$name]: ${rowStr(rows(0))}")
    } else {
      println(s"log for [$name]:")
      df.show(rows, 20)
      reporter.collect(step,
        message = Some(rows.take(20).map(rowStr).mkString("\n")))
    }
  }

  private def writeForCheckStep(step: Step, df: TableLike): Unit = {
    val config = step.targetConfig.get
    if (config.isTargetNameAFunc) {
      val funcDef = config.name.get
      step.renderedName = Some(funcRunner.renderFuncCall(funcDef, varsContext))
      if (!Coerce.truthy(funcRunner.runFunc(funcDef, varsContext)))
        throw new SqlProcessorException(
          s"check failed! check function returned False. check=$funcDef, vars=$vars")
      return
    }
    val checkData = df.limit(100).collectRows()
    if (checkData.isEmpty)
      throw new SqlProcessorException(
        s"Data for check must contains at least one row. check=${config.name}")
    val fieldNames = df.fieldNames
    if (!fieldNames.contains("actual") || !fieldNames.contains("expected"))
      throw new SqlProcessorException(
        s"Data for check must contains expected and actual columns. check=${config.name}")
    val ai = fieldNames.indexOf("actual")
    val ei = fieldNames.indexOf("expected")
    checkData.foreach { row =>
      if (row(ai) != row(ei))
        throw new SqlProcessorException(
          s"check [${config.name.get}] failed! actual=${row(ai)}, expected=${row(ei)}")
    }
    reporter.collect(step, message = Some(s"check passed (${checkData.length} rows)"))
  }

  private def writeForOutputStep(step: Step, table0: TableLike,
      dryRun: Boolean): Unit = {
    val config = step.targetConfig.get
    val name = config.name.getOrElse(throw new SqlProcessorException(
      "output step requires a table name"))
    if (!name.contains("."))
      throw new SqlProcessorException(
        s"table name for hive or output must be of format DB.TABLE_NAME, got `$name`")

    var table = table0
    extraCols.foreach { case (colName, expr) =>
      table = table.withColumnExpr(colName, expr)
    }
    val tempTableName =
      s"${name.split("\\.")(1)}_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    backend.createTempTable(table, tempTableName)

    // special-variable protocol (reference step.py:400-437)
    var staticPartitionName: Option[String] = None
    var staticPartitionValue: Option[Any] = None
    var createOutputTable = false
    var saveMode = SaveMode.Overwrite
    var verifySchemaFlag = false
    var verifySchemaType = false
    vars.foreach { case (k, v) =>
      if (k.contains("__partition__")) {
        staticPartitionName = Some(k.substring(
          k.indexOf("__partition__") + "__partition__".length))
        staticPartitionValue = Option(v)
      }
      if (k == "save_mode" || k == "__save_mode__")
        saveMode = if (Coerce.toStr(v).equalsIgnoreCase("append"))
          SaveMode.Append else SaveMode.Overwrite
      if (k == "__create_hive_table__" || k == "__create_output_table__")
        createOutputTable = Coerce.isTrueFlag(v)
      if (k == "__dry_run_verify_output_schema__")
        verifySchemaFlag = Coerce.isTrueFlag(v)
      if (k == "__dry_run_verify_output_schema_type__")
        verifySchemaType = Coerce.isTrueFlag(v)
    }

    var dynamicPartition = false
    val targetTable: TableMeta = staticPartitionName match {
      case Some(pn) =>
        val pv = staticPartitionValue.map(Coerce.toStr).filter(_.trim.nonEmpty)
        if (pv.isEmpty) dynamicPartition = true
        TableMeta(name, Seq(TablePartition(pn, pv)))
      case None =>
        dynamicPartition = true
        val t = TableMeta(name)
        if (!dryRun && backend.tableExists(t)) backend.refreshTablePartitions(t)
        else t
    }

    if (dryRun) {
      var out = table
      if (!dynamicPartition && staticPartitionName.isDefined) {
        val litSql = staticPartitionValue.map(Coerce.toStr) match {
          case Some(v) => "'" + v.replace("'", "''") + "'"
          case None => "null"
        }
        out = out.withColumnExpr(staticPartitionName.get, litSql)
      }
      backend.createTempTable(out, tempTableName + "_output")
      if (verifySchemaFlag)
        backend.verifySchema(TableMeta(tempTableName + "_output"),
          targetTable, verifySchemaType)
      reporter.collect(step,
        message = Some("will not save data to data warehouse (dry run)"))
      step.executedSql = Some(s"-- dry run insert overwrite ${targetTable.tableName}")
      return
    }

    if (!backend.tableExists(targetTable) && !createOutputTable)
      throw new SqlProcessorException(
        s"target table ${targetTable.tableName} not exists")

    backend.saveTable(TableMeta(tempTableName), targetTable, saveMode,
      createTargetTable = createOutputTable)
    step.executedSql = Some(s"-- insert ${saveMode.toString.toLowerCase} ${targetTable.tableName}")
  }
}
