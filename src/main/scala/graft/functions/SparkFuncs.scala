package graft.functions

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame

import graft.backend.SparkBackend
import graft.core.{Coerce, SqlProcessorException, VarsContext}

/** The Spark function library callable from `${f(...)}`, `func.`,
  * `check.` and `if=` sites. Mirrors the reference registry
  * (easy_sql/sql_processor/funcs.py:152-214) over funcs_spark.py /
  * funcs_common.py. Side-effecting funcs operate on temp views via the
  * backend; partition funcs read `show partitions` / `desc table`.
  */
object SparkFuncs {

  /** Pluggable alert sink (reference Alerter, funcs_common.py:271-273):
    * deployments swap in a real channel (mail/chat webhook); default
    * logs. */
  trait Alerter {
    def sendAlert(msg: String, mentionedUsers: String = ""): Unit
  }
  object LogAlerter extends Alerter {
    override def sendAlert(msg: String, mentionedUsers: String): Unit =
      println(s"[alert]${
        if (mentionedUsers.nonEmpty) s" @$mentionedUsers" else ""} $msg")
  }
  @volatile var alerter: Alerter = LogAlerter

  private def s(v: Any): String = Coerce.toStr(v)
  private def opt(ps: Seq[Any], i: Int): Option[String] =
    if (ps.length > i) Some(s(ps(i))).filter(_.nonEmpty) else None

  def all(backend: SparkBackend, vars: VarsContext)
      : Map[String, Seq[Any] => Any] = {
    val spark = backend.spark

    // --- partition helpers ----------------------------------------------
    def partitionValues(table: String): Seq[String] =
      spark.sql(s"show partitions $table").collect().map { r =>
        val p = r.getString(0)
        p.substring(p.indexOf('=') + 1)
      }.toSeq.sorted

    def partitionCols(table: String): Seq[String] = {
      val rows = spark.sql(s"desc table $table").collect().map(_.getString(0))
      val idx = rows.indexWhere(_.trim == "# col_name")
      if (idx == -1) Nil
      else rows.drop(idx + 1).map(_.trim)
        .filterNot(c => c.isEmpty || c.startsWith("#")).toSeq
    }

    def partitionExists(table: String, value: String): Boolean =
      partitionValues(table).contains(value)

    def firstPartitionOpt(table: String): Option[String] =
      partitionValues(table).headOption

    def ensureTablePartition(value: String, tables: Seq[String],
        orFirst: Boolean): Boolean = {
      val missing = tables.filter { t =>
        try {
          if (partitionExists(t, value)) false
          else if (orFirst) {
            val first = firstPartitionOpt(t)
            first.isEmpty || value > first.get
          } else true
        } catch { case _: Exception => true }
      }
      if (missing.nonEmpty)
        println(s"partition $value not exists: ${missing.mkString(",")}")
      missing.isEmpty
    }

    def tableFields(table: String): Seq[String] =
      spark.sql(s"select * from $table limit 0").schema.fieldNames.toSeq

    def checkNotNull(table: String, cols: Seq[String],
        query: Option[String]): Boolean = {
      val bad = cols.map { c =>
        val cond = query.map(q => s"($c is null) and ($q)")
          .getOrElse(s"$c is null")
        c -> spark.sql(s"select count(1) from $table where $cond")
          .collect()(0).getLong(0)
      }.filter(_._2 != 0)
      if (bad.nonEmpty)
        println(s"check_not_null_column_in_table $table failed, found: " +
          bad.map { case (c, n) => s"$n null rows($c)" }.mkString("\n"))
      bad.isEmpty
    }

    def view(table: String): DataFrame = spark.sql(s"select * from $table")

    // --- alerting helpers -------------------------------------------------
    def stepOf(v: Any): graft.etl.Step = v match {
      case st: graft.etl.Step => st
      case _ => vars.vars.get("__step__") match {
        case Some(st: graft.etl.Step) => st
        case _ => throw new SqlProcessorException(
          "alert requires the current step (pass __step__)")
      }
    }
    def ctxOf(v: Any): VarsContext = v match {
      case c: VarsContext => c
      case _ => vars
    }
    // python str.format(**row) analog: replace {col} with the row value
    def pyFormat(tmpl: String, m: Map[String, Any]): String =
      m.foldLeft(tmpl) { case (acc, (k, v)) =>
        acc.replace(s"{$k}", Coerce.toStr(v)) }
    def alertRun(be: SparkBackend, step: graft.etl.Step, ctx: VarsContext,
        ruleName: String, passCondition: String, alertTemplate: String,
        mentionedUsers: String): Unit = {
      val sql = step.selectSql.getOrElse(throw new SqlProcessorException(
        s"alert rule `$ruleName` needs select sql on its step"))
      // fetch 10 rows at most (funcs_common.py:291-293)
      val rows = be.execSql(sql).df.limit(10).collect()
      val failed = rows.toSeq.flatMap { r =>
        val m = r.schema.fieldNames.zipWithIndex.map {
          case (n, i) => n -> r.get(i) }.toMap
        ctx.addVars(m)
        val pass = ctx.runner.forall(fr =>
          Coerce.truthy(fr.runFunc(pyFormat(passCondition, m), ctx)))
        if (!pass) Some(pyFormat(alertTemplate, m)) else None
      }
      if (failed.nonEmpty)
        alerter.sendAlert(failed.mkString("\n"), mentionedUsers)
    }

    def allColsExpr(ps: Seq[Any]): String = {
      val table = s(ps.head)
      val exclude = ps.drop(1).map(s).toSet
      val pure = if (table.contains(".")) table.split("\\.")(1) else table
      tableFields(table).filterNot(exclude.contains)
        .map(c => s"$pure.$c").mkString(", ")
    }

    Map(
      // parallelism (funcs_spark.py:38-61)
      "repartition" -> (ps =>
        backend.createTempTable(
          view(s(ps.head)).repartition(s(ps(1)).toInt), s(ps.head))),
      "repartition_by_column" -> (ps =>
        backend.createTempTable(view(s(ps.head))
          .repartition(org.apache.spark.sql.functions.col(s(ps(1)))),
          s(ps.head))),
      "coalesce" -> (ps =>
        backend.createTempTable(
          view(s(ps.head)).coalesce(s(ps(1)).toInt), s(ps.head))),
      "set_shuffle_partitions" -> (ps => {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", s(ps.head))
      }),
      // flink parity (funcs_flink.py:33-46): generic runtime conf set +
      // parallelism (int-validated, maps to shuffle partitions here)
      "set_config" -> (ps => spark.conf.set(s(ps.head), s(ps(1)))),
      "set_parallelism" -> (ps => {
        val p = s(ps.head)
        if (p.toIntOption.isEmpty)
          throw new SqlProcessorException(
            s"partitions must be an int when repartition a table, got `$p`")
        spark.conf.set("spark.sql.shuffle.partitions", p)
      }),
      // in-process analog of funcs_flink.py run_etl (:89-117): run
      // another ETL file against the same backend
      "run_etl" -> (ps => {
        val path = s(ps.head)
        val sql = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        new graft.etl.SqlProcessor(backend, sql).run()
      }),

      // cache (funcs_spark.py:161-166)
      "unpersist" -> (ps => spark.catalog.uncacheTable(s(ps.head))),

      // partition functions (funcs_common.py:92-268, funcs_spark.py:169-190)
      "partition_exists" -> (ps => partitionExists(s(ps.head), s(ps(1)))),
      "partition_not_exists" -> (ps => !partitionExists(s(ps.head), s(ps(1)))),
      "is_first_partition" -> (ps =>
        firstPartitionOpt(s(ps.head)).contains(s(ps(1)))),
      "is_not_first_partition" -> (ps =>
        !firstPartitionOpt(s(ps.head)).contains(s(ps(1)))),
      "previous_partition_exists" -> (ps => {
        val curr = s(ps(1))
        val fmt = if (curr.contains("-")) "yyyy-MM-dd" else "yyyyMMdd"
        val prev =
          try LocalDate.parse(curr, DateTimeFormatter.ofPattern(fmt))
            .minusDays(1).format(DateTimeFormatter.ofPattern(fmt))
          catch {
            case _: Exception => throw new SqlProcessorException(
              s"partition value must be date of format yyyy-MM-dd or yyyyMMdd, found $curr")
          }
        partitionValues(s(ps.head)).contains(prev)
      }),
      "get_partition_or_first_partition" -> (ps => {
        val (table, value) = (s(ps.head), s(ps(1)))
        val values = partitionValues(table)
        if (values.isEmpty || values.contains(value)) value
        else if (value < values.head) values.head else value
      }),
      "get_first_partition" -> (ps =>
        firstPartitionOpt(s(ps.head)).getOrElse(
          throw new SqlProcessorException(
            s"no partition found for table ${s(ps.head)}"))),
      "get_first_partition_optional" -> (ps =>
        firstPartitionOpt(s(ps.head)).orNull),
      "get_last_partition" -> (ps =>
        partitionValues(s(ps.head)).lastOption.getOrElse(
          throw new SqlProcessorException(
            s"no partition found for table ${s(ps.head)}"))),
      "get_partition_cols" -> (ps => partitionCols(s(ps.head)).mkString(",")),
      "get_partition_col" -> (ps =>
        partitionCols(s(ps.head)).headOption.getOrElse(
          throw new SqlProcessorException(
            s"no partition columns found for table ${s(ps.head)}"))),
      "has_partition_col" -> (ps => partitionCols(s(ps.head)).nonEmpty),
      "get_partition_values_as_joined_str" -> (ps =>
        partitionValues(s(ps.head)).map(v => s"'$v'").mkString(", ")),
      "ensure_table_partition_exists" -> (ps =>
        ensureTablePartition(s(ps(1)), ps.drop(2).map(s), orFirst = false)),
      "ensure_partition_exists" -> (ps => {
        if (ps.length < 2) throw new SqlProcessorException(
          "must contain at least one table and one partition_value")
        ensureTablePartition(s(ps.last), ps.dropRight(1).map(s).filterNot(
          _.startsWith("Step(")), orFirst = false)
      }),
      "ensure_table_partition_or_first_partition_exists" -> (ps =>
        ensureTablePartition(s(ps(1)), ps.drop(2).map(s), orFirst = true)),
      "ensure_partition_or_first_partition_exists" -> (ps => {
        if (ps.length < 2) throw new SqlProcessorException(
          "must contain at least one table and one partition_value")
        ensureTablePartition(s(ps.last), ps.dropRight(1).map(s).filterNot(
          _.startsWith("Step(")), orFirst = true)
      }),
      "ensure_dwd_partition_exists" -> (ps =>
        // simplified vs reference funcs_common.py:141-186 (FK-nonnull
        // probe): partition-or-first-partition existence check
        ensureTablePartition(s(ps(2)), Seq(s(ps(1))), orFirst = true)),

      // column functions (funcs_common.py:24-48)
      "all_cols_without_one_expr" -> (ps => allColsExpr(ps)),
      "all_cols_with_exclusion_expr" -> (ps => allColsExpr(ps)),
      "all_cols_prefixed_with_exclusion_expr" -> (ps => {
        val table = s(ps.head)
        val prefix = s(ps(1))
        val exclude = ps.drop(2).map(s).toSet
        val pure = if (table.contains(".")) table.split("\\.")(1) else table
        tableFields(table).filterNot(exclude.contains)
          .map(c => s"$pure.$c as `$prefix$c`").mkString(", ")
      }),

      // table checks (funcs_common.py:51-89); leading Step(...) params from
      // `${__step__}` are tolerated and skipped
      "ensure_no_null_data_in_table" -> (ps => {
        val args = ps.map(s).filterNot(_.startsWith("Step("))
        checkNotNull(args.head, tableFields(args.head), args.lift(1))
      }),
      "check_not_null_column_in_table" -> (ps => {
        val args = ps.map(s).filterNot(_.startsWith("Step("))
        checkNotNull(args.head, Seq(args(1)), args.lift(2))
      }),

      // IO (funcs_spark.py:64-135)
      "write_csv" -> (ps =>
        view(s(ps.head)).repartition(1).write.mode("overwrite")
          .option("header", "true").csv(s(ps(1)))),
      "rename_csv_output" -> (ps => {
        val dir = s(ps.head).stripPrefix("file://")
        val to = s(ps(1))
        val files = new java.io.File(dir).listFiles()
        val csvs = Option(files).map(_.filter(_.getName.endsWith(".csv")))
          .getOrElse(Array.empty)
        if (csvs.length != 1) throw new SqlProcessorException(
          s"expect exactly one csv file at $dir, found ${csvs.length}")
        new java.io.File(to).getParentFile.mkdirs()
        java.nio.file.Files.move(csvs(0).toPath,
          java.nio.file.Paths.get(to),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }),
      "move_file" -> (ps => {
        val (from, to) = (s(ps.head), s(ps(1)))
        new java.io.File(to).getParentFile.mkdirs()
        java.nio.file.Files.move(java.nio.file.Paths.get(from),
          java.nio.file.Paths.get(to),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }),
      "write_json_local" -> (ps => {
        val df = view(s(ps.head))
        val rows = df.toJSON.collect()
        val out = java.nio.file.Paths.get(s(ps(1)))
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(out,
          rows.mkString("[\n", ",\n", "\n]"))
      }),
      "update_json_local" -> (ps => {
        // (vars, list_vars, json_attr, output_file) — writes selected vars
        // as a flat json object under output_file (attr nesting simplified)
        val varNames = s(ps.head).split(",").map(_.trim).filter(_.nonEmpty)
        val entries = varNames.flatMap(n =>
          vars.vars.get(n.toLowerCase).map(v => s""""$n": "${Coerce.toStr(v)}""""))
        val out = java.nio.file.Paths.get(s(ps.last))
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(out,
          entries.mkString("{", ", ", "}"))
      }),

      // ML (funcs_spark.py:138-158)
      "model_predict" -> (ps => {
        val Seq(modelPath, table, idCol, refColsStr) = ps.take(4).map(s)
        val model = org.apache.spark.ml.PipelineModel.load(modelPath)
        val df0 = view(table)
        val df = df0.schema.fields.foldLeft(df0) { (acc, f) =>
          if (f.dataType == org.apache.spark.sql.types.IntegerType)
            acc.withColumn(f.name,
              org.apache.spark.sql.functions.col(f.name).cast("double"))
          else acc
        }
        val refCols = refColsStr.split(";").map(_.trim).filter(_.nonEmpty)
        backend.createTempTable(model.transform(df)
          .selectExpr(refCols ++ Seq(idCol, "prediction"): _*), table)
      }),

      // analytics (funcs_common.py:340-453): sampled per-column report
      // computed distributed by Spark (see DataProfiler). Signature
      // mirrors the reference: (table, query, output_folder,
      // max_count=50000, include_correlations=true, types=html). With
      // only a table argument the profile JSON goes to stdout.
      "data_profiling_report" -> (ps => {
        val table = s(ps.head)
        val cond = opt(ps, 1).filter(_.nonEmpty).map("where " + _)
          .getOrElse("")
        val df = backend.execNativeSql(s"select * from $table $cond")
        if (ps.length < 3) {
          println(s"=== data profiling report for $table ===")
          println(DataProfiler.profileJson(
            DataProfiler.sampled(df, 50000),
            s"Profiling Report for $table", includeCorrelations = false))
        } else {
          val written = DataProfiler.report(df, table, s(ps(2)),
            maxCount = opt(ps, 3).map(_.toInt).getOrElse(50000),
            includeCorrelations = opt(ps, 4).forall(v =>
              Seq("1", "true", "y", "yes").contains(v.toLowerCase)),
            types = opt(ps, 5).getOrElse("html").split(",")
              .map(_.trim).filter(_.nonEmpty).toSeq)
          written.foreach(p => println(s"generated file: $p"))
        }
      }),

      // alerting (funcs_common.py:276-321): the step's select sql is
      // fetched (≤10 rows); each row formats `pass_condition`
      // ({col} placeholders, python str.format style) and runs it as a
      // func; failing rows render `alert_template` and go out in ONE
      // alerter message.
      "alert" -> (ps => alertRun(backend, stepOf(ps.head), ctxOf(ps(1)),
        s(ps(2)), s(ps(3)), s(ps(4)), opt(ps, 5).getOrElse(""))),
      "alert_with_backend" -> (ps => alertRun(
        ps.head match { case b: SparkBackend => b; case _ => backend },
        stepOf(ps(1)), ctxOf(ps(2)),
        s(ps(3)), s(ps(4)), s(ps(5)), opt(ps, 6).getOrElse(""))),
      "send_alert" -> (ps =>
        alerter.sendAlert(s(ps.head), opt(ps, 1).getOrElse(""))),
      "alert_exception_handler" -> (ps =>
        println(s"[alert-exception] ${ps.map(s).mkString(", ")}")),

      // lang (funcs_spark.py:193-213): direct reflection, py4j-free
      "call_java" -> (ps => {
        val cls = Class.forName(s(ps.head))
        val m = cls.getMethods.find(_.getName == s(ps(1))).getOrElse(
          throw new SqlProcessorException(s"no method ${s(ps(1))} on $cls"))
        m.invoke(null, ps.drop(2).map(_.asInstanceOf[Object]): _*)
      }),

      // test helper (funcs_common.py:456-467)
      "sleep" -> (ps => Thread.sleep((s(ps.head).toDouble * 1000).toLong))
    )
  }
}
