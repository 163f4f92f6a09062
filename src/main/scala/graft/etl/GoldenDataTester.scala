package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.backend.{SparkBackend, TablePartition}
import graft.core.SqlProcessorException

/** Golden-data ETL tester — the reference's flagship testing idea
  * (easy_sql/sql_tester.py, format doc docs/easy_sql/testing.md): a test
  * case declares VARS + INPUT tables + expected OUTPUT tables; the runner
  * creates the inputs, dry-runs the ETL (outputs land in
  * `<table>_<hex>_output` temp views), and compares actual vs expected
  * rows ordered by all columns. JSON case format mirrors
  * test/sample_etl.spark.json (values may be JSON-encoded strings, a
  * quirk of the reference's xlsx converter, or plain arrays).
  */
object GoldenDataTester {

  final case class TableFixture(name: String, columns: Seq[String],
      columnTypes: Seq[String], values: Seq[Seq[Any]])

  final case class TestCase(
      name: String,
      sql: String,
      vars: Map[String, String],
      includes: Map[String, String],
      inputs: Seq[TableFixture],
      outputs: Seq[TableFixture])

  // --- JSON parsing ------------------------------------------------------

  private def jString(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i) => i.toString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case JNull => null
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  /** A list either inline (JArray) or JSON-encoded in a string. */
  private def jList(v: JValue): Seq[JValue] = v match {
    case JArray(xs) => xs
    case JString(s) => JsonMethods.parse(s) match {
      case JArray(xs) => xs
      case other => Seq(other)
    }
    case JNothing | JNull => Nil
    case other => Seq(other)
  }

  private def jAny(v: JValue): Any = v match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JNull | JNothing => null
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  private def parseFixture(v: JValue): TableFixture = TableFixture(
    name = jString(v \ "name"),
    columns = jList(v \ "columns").map(jString),
    columnTypes = jList(v \ "column_types").map(jString),
    values = jList(v \ "values").map(row => jList(row).map(jAny)))

  def parseCases(json: String, sqlByPath: Map[String, String] = Map.empty)
      : Seq[TestCase] = {
    val root = JsonMethods.parse(json) match {
      case JArray(xs) => xs
      case single => Seq(single)
    }
    root.map { c =>
      val sqlInline = (c \ "sql_file_content") match {
        case JString(s) if s.nonEmpty => Some(s)
        case _ => None
      }
      val sqlPath = jString(c \ "sql_file_path")
      val sql = sqlInline.orElse(sqlByPath.get(sqlPath)).getOrElse(
        throw new SqlProcessorException(
          s"no sql for case: inline sql_file_content missing and " +
          s"path $sqlPath not provided"))
      TestCase(
        name = jString(c \ "name"),
        sql = sql,
        vars = (c \ "vars") match {
          case JObject(fs) => fs.map { case (k, v) => k -> jString(v) }.toMap
          case _ => Map.empty
        },
        includes = (c \ "includes") match {
          case JObject(fs) => fs.map { case (k, v) => k -> jString(v) }.toMap
          case _ => Map.empty
        },
        inputs = jList(c \ "inputs").map(parseFixture),
        outputs = jList(c \ "outputs").map(parseFixture))
    }
  }

  // --- fixture materialization ------------------------------------------

  /** Column-type vocabulary of the reference test harness
    * (sql_tester.py:153-206): primitives + array<T>; `decimal(...)`
    * collapses to double; anything else resolved via Spark's DDL parser. */
  private def sparkType(t: String): DataType = t.trim.toLowerCase match {
    case "int" => IntegerType
    case "tinyint" => ShortType
    case "bigint" | "long" => LongType
    case "double" => DoubleType
    case "float" => FloatType
    case "string" | "text" => StringType
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamp" => TimestampType
    case d if d.startsWith("decimal") => DoubleType
    case a if a.startsWith("array<") =>
      ArrayType(sparkType(a.stripPrefix("array<").stripSuffix(">")))
    case other => DataType.fromDDL(other)
  }

  private def castValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case ("null", _) => null
    case (s: String, _) if s == "null" => null
    case (v, IntegerType) => v.toString.toDouble.toInt
    case (v, ShortType) => v.toString.toDouble.toShort
    case (v, LongType) => v.toString.toDouble.toLong
    case (v, DoubleType) => v.toString.toDouble
    case (v, FloatType) => v.toString.toFloat
    case (v, StringType) => v.toString
    case (v, BooleanType) => v.toString.toBoolean
    case (v, DateType) => java.sql.Date.valueOf(v.toString)
    case (v, TimestampType) => java.sql.Timestamp.valueOf(v.toString)
    case (v, ArrayType(et, _)) =>
      // array cells are |-separated (sql_tester.py:269-272)
      v.toString.split("\\|").toSeq.map(castValue(_, et))
    case (v, _) => v
  }

  def toDataFrame(spark: SparkSession, f: TableFixture): DataFrame = {
    val schema = StructType(f.columns.zip(
      f.columnTypes.padTo(f.columns.length, "string")).map {
      case (c, t) => StructField(c, sparkType(t), nullable = true)
    })
    val rows = f.values.map { vs =>
      Row.fromSeq(schema.fields.zipWithIndex.map { case (fld, i) =>
        castValue(if (i < vs.length) vs(i) else null, fld.dataType) match {
          case s: Seq[_] => s
          case other => other
        }
      }.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema)
  }

  // --- run + verify ------------------------------------------------------

  final case class CaseResult(name: String, passed: Boolean,
      failures: Seq[String])

  def runCase(spark: SparkSession, tc: TestCase): CaseResult = {
    val backend = new SparkBackend(spark)
    // create inputs: dotted names become real tables, plain names temp
    // views (sql_tester.py:867-876)
    tc.inputs.foreach { f =>
      val df = toDataFrame(spark, f)
      if (f.name.contains(".")) {
        backend.createTableWithData(f.name, df, Nil)
        // a prior case in this session may have cached the old file
        // listing for the same table name
        spark.catalog.refreshTable(f.name)
      } else backend.createTempTableWithData(f.name, df)
    }

    val viewsBefore = spark.catalog.listTables("default").collect()
      .filter(_.isTemporary).map(_.name).toSet

    val processor = new SqlProcessor(backend, tc.sql,
      variables = tc.vars, includes = tc.includes)
    processor.run(dryRun = true)

    val tempViews = spark.catalog.listTables("default").collect()
      .filter(_.isTemporary).map(_.name)
    val failures = tc.outputs.flatMap { expected =>
      val pureName = expected.name.split("\\.").last
      // prefer the view THIS run created: an earlier case in the same
      // session may have left a same-named `<out>_<hex>_output` view
      // whose plan points at since-dropped files
      val matching = tempViews.filter(
        _.matches(s"${pureName}_[0-9a-f]+_output"))
      val outView = matching.find(!viewsBefore.contains(_))
        .orElse(matching.headOption)
      outView match {
        case None =>
          Seq(s"no output temp view found for ${expected.name} " +
            s"(looked for ${pureName}_<hex>_output)")
        case Some(view) =>
          val expectedDf = toDataFrame(spark, expected)
          val cols = expected.columns
          val types = expected.columnTypes.padTo(cols.length, "string")
          // cast actual to the declared fixture types: engines/versions
          // legitimately differ in coercion (e.g. ANSI string-vs-bigint
          // union); the fixture's type is the contract
          val actual = spark.table(view)
            .select(cols.zip(types).map { case (c, t) =>
              org.apache.spark.sql.functions.col(c).cast(sparkType(t)).as(c)
            }: _*)
            .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
            .collect().map(_.toSeq.map(normalize))
          val exp = expectedDf
            .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
            .collect().map(_.toSeq.map(normalize))
          if (actual.toSeq != exp.toSeq)
            Seq(s"${expected.name}: expected ${exp.toSeq} got ${actual.toSeq}")
          else Nil
      }
    }
    CaseResult(tc.name, failures.isEmpty, failures)
  }

  private def normalize(v: Any): Any = v match {
    // arrays compare order-insensitively but multiplicity-strictly:
    // sorted sequences, NOT sets — [1,1,2] must not equal [2,1]
    case s: scala.collection.Seq[_] =>
      s.map(n => String.valueOf(normalize(n))).sorted.toList
    case d: java.math.BigDecimal => d.doubleValue
    case other => other
  }

  // --- RDB run + verify --------------------------------------------------

  /** Fixture type → warehouse DDL type (ANSI family; array fixtures are
    * a Spark-side concept and rejected here). */
  private def rdbType(t: String): String = t.trim.toLowerCase match {
    case "int" => "int"
    case "tinyint" => "smallint"
    case "bigint" | "long" => "bigint"
    case "double" => "double"
    case "float" => "float"
    case "string" | "text" => "varchar(4000)"
    case "boolean" => "boolean"
    case "date" => "date"
    case "timestamp" => "timestamp"
    case d if d.startsWith("decimal") => "double"
    case a if a.startsWith("array<") => throw new SqlProcessorException(
      "array fixture columns are not supported on RDB backends")
    case other => other
  }

  private def rdbValue(v: Any, t: String): Any =
    castValue(v, sparkType(t)) match {
      case d: java.sql.Date => d
      case ts: java.sql.Timestamp => ts
      case other => other
    }

  /** The golden-data protocol against a JDBC warehouse — the reference's
    * sql_tester runs its cases per backend (sql_tester.py dispatches on
    * the case's backend header); this is the RDB leg: inputs become
    * temp-schema tables (dotted names: real warehouse tables), the ETL
    * dry-runs through the backend-generic processor, and each expected
    * output compares against its `<table>_<hex>_output` view with
    * values coerced through the fixture's declared types on BOTH sides
    * (warehouses legitimately differ in numeric/char coercion; the
    * fixture's type is the contract). */
  def runCase(backend: graft.backend.rdb.RdbBackend,
      tc: TestCase): CaseResult = {
    tc.inputs.foreach { f =>
      val types = f.columnTypes.padTo(f.columns.length, "string")
      val schema = f.columns.zip(types).map { case (c, t) =>
        graft.backend.rdb.RdbCol(c, rdbType(t)) }
      val rows = f.values.map(vs =>
        f.columns.indices.map(i =>
          rdbValue(if (i < vs.length) vs(i) else null, types(i))))
      if (f.name.contains("."))
        backend.createTableWithData(f.name, rows, schema, Nil)
      else backend.createTempTableWithData(f.name, rows, schema)
    }

    val viewsBefore = backend.tempTables().toSet
    val processor = new SqlProcessor(backend, tc.sql,
      variables = tc.vars, includes = tc.includes)
    processor.run(dryRun = true)

    val tempViews = backend.tempTables()
    val failures = tc.outputs.flatMap { expected =>
      val pureName = expected.name.split("\\.").last.toLowerCase
      val matching = tempViews.filter(
        _.matches(s"${pureName}_[0-9a-f]+_output"))
      matching.find(!viewsBefore.contains(_)).orElse(matching.headOption) match {
        case None =>
          Seq(s"no output temp view found for ${expected.name} " +
            s"(looked for ${pureName}_<hex>_output)")
        case Some(view) =>
          val cols = expected.columns
          val types = expected.columnTypes.padTo(cols.length, "string")
          val raw = backend.queryRows(
            s"select ${cols.mkString(", ")} from " +
            s"${backend.tempSchema}.$view", 10000)
          def key(r: Seq[Any]) = r.map(String.valueOf).mkString("")
          val actual = raw.map(r => r.zip(types).map { case (v, t) =>
            normalize(rdbValue(v, t)) }).sortBy(key)
          val exp = expected.values.map(r =>
            cols.indices.map(i => normalize(rdbValue(
              if (i < r.length) r(i) else null, types(i))))).sortBy(key)
          if (actual != exp)
            Seq(s"${expected.name}: expected $exp got $actual")
          else Nil
      }
    }
    CaseResult(tc.name, failures.isEmpty, failures)
  }

  /** Extension dispatch mirrors the reference
    * (sql_tester.py:625-641): `.xlsx` via [[XlsxCases]], `.json`
    * inline. */
  def runCasesFromFile(spark: SparkSession, path: String,
      baseDir: String): Seq[CaseResult] = {
    val cases =
      if (path.endsWith(".xlsx")) XlsxCases.parseFile(path)
      else {
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        parseCases(json, sqlByPath = loadSqlFiles(json, baseDir))
      }
    cases.map(runCase(spark, _))
  }

  private def loadSqlFiles(json: String, baseDir: String)
      : Map[String, String] = {
    val paths = JsonMethods.parse(json) match {
      case JArray(xs) => xs.map(c => jString(c \ "sql_file_path"))
      case c => Seq(jString(c \ "sql_file_path"))
    }
    paths.filter(p => p != null && p.nonEmpty).flatMap { p =>
      val f = java.nio.file.Paths.get(baseDir, p)
      if (java.nio.file.Files.exists(f))
        Some(p -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      else None
    }.toMap
  }
}
