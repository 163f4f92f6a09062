package graft.backend

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, lit}
import org.apache.spark.sql.types.StructType

import graft.core.SqlProcessorException

/** One partition column; value None ⇒ dynamic (reference base.py:123-141). */
final case class TablePartition(field: String, value: Option[Any] = None)

/** `[catalog.]db.table` identifier + partitions (reference base.py:148-204). */
final case class TableMeta(
    tableName: String,
    partitions: Seq[TablePartition] = Nil) {

  private val parts = tableName.split("\\.")
  require(parts.length <= 3,
    s"table name must be of format [catalog.]db.table, got $tableName")

  def catalogName: Option[String] = if (parts.length == 3) Some(parts(0)) else None
  def dbName: Option[String] =
    if (parts.length >= 2) Some(parts(parts.length - 2)) else None
  def pureTableName: String = parts.last
  def updatePartitions(ps: Seq[TablePartition]): TableMeta = copy(partitions = ps)
}

object SaveMode extends Enumeration {
  val Overwrite, Append = Value
}

/** [[TableLike]] over a Catalyst plan: every lazy op composes the plan,
  * so limits/derived columns stay inside whole-stage codegen and only the
  * terminal collect/show/count runs a job. */
final class SparkTable(val df: DataFrame) extends TableLike {
  def fieldNames: Seq[String] = df.schema.fieldNames.toSeq
  def isEmpty: Boolean = df.isEmpty
  def firstRow: Seq[Any] = {
    val r = df.first()
    fieldNames.indices.map(i => if (r.isNullAt(i)) null else r.get(i))
  }
  def limit(n: Int): TableLike = new SparkTable(df.limit(n))
  def withColumnExpr(name: String, sqlExpr: String): TableLike =
    new SparkTable(df.withColumn(name, org.apache.spark.sql.functions.expr(sqlExpr)))
  def collectRows(): Seq[Seq[Any]] =
    df.collect().toSeq.map(r =>
      r.schema.fieldNames.indices.map(i => if (r.isNullAt(i)) null else r.get(i)))
  /** Spark's own `show(n)` over a local frame of the rows: same table
    * text and footer, and no second execution of this table's plan. */
  def show(rows: Seq[Seq[Any]], n: Int): Unit =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.map(Row.fromSeq): _*), df.schema).show(n)
  def count(): Long = df.count()
}

/** The engine adapter — a thin, idiomatic wrapper over SparkSession
  * (reference easy_sql/sql_processor/backend/spark.py, ~350 LoC python).
  * All relational execution is `spark.sql`; laziness and optimization come
  * from Catalyst.
  *
  * Every view it registers (temp, cache and broadcast steps, and the
  * output path's staging views) goes through [[createTempTable]], which
  * runs Spark's temp-view command without a SQL execution of its own
  * ([[org.apache.spark.sql.GraftColumnBridge.registerView]]). The SQL UI
  * and query-execution listeners therefore no longer see one
  * `CreateViewCommand` per temp step; a step's executions are the ones
  * its SQL needs.
  */
final class SparkBackend(val spark: SparkSession) extends Backend {

  val isSparkBackend = true

  def execSql(sql: String): SparkTable = new SparkTable(spark.sql(sql))
  def execNativeSql(sql: String): DataFrame = spark.sql(sql)

  def createEmptyTable(): SparkTable =
    new SparkTable(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Nil)))

  private def dfOf(t: TableLike): DataFrame = t match {
    case s: SparkTable => s.df
    case other => throw new SqlProcessorException(
      s"SparkBackend can only register Spark tables, got ${other.getClass}")
  }

  def createTempTable(table: TableLike, name: String): Unit =
    createTempTable(dfOf(table), name)
  def createCacheTable(table: TableLike, name: String): Unit =
    createCacheTable(dfOf(table), name)
  def broadcastTable(table: TableLike, name: String): Unit =
    broadcastTable(dfOf(table), name)

  /** `df.createOrReplaceTempView(name)` without a SQL execution. */
  def createTempTable(df: DataFrame, name: String): Unit =
    GraftColumnBridge.registerView(df, name)

  def createCacheTable(df: DataFrame, name: String): Unit = {
    createTempTable(df, name)
    spark.catalog.cacheTable(name)
  }

  def broadcastTable(df: DataFrame, name: String): Unit =
    createTempTable(broadcast(df), name)

  def tempTables(): Seq[String] =
    spark.catalog.listTables("default").collect()
      .filter(_.isTemporary).map(_.name).toSeq

  def clearCache(): Unit = spark.catalog.clearCache()

  def clearTempTables(exclude: Seq[String] = Nil): Unit =
    tempTables().filterNot(exclude.contains).foreach(spark.catalog.dropTempView)

  def tableExists(table: TableMeta): Boolean =
    try spark.catalog.tableExists(table.dbName.getOrElse("default"),
      table.pureTableName)
    catch { case _: Exception => false }

  def setSparkConfigs(configs: Map[String, String]): Unit =
    configs.foreach { case (k, v) => spark.conf.set(k, v) }

  def registerUdfs(udfs: Map[String, org.apache.spark.sql.expressions
      .UserDefinedFunction]): Unit =
    udfs.foreach { case (name, f) => spark.udf.register(name, f) }

  /** The reference's scala_udf_initializer protocol (spark.py:89-97):
    * resolve `<name>.initUdfs(spark)` and invoke it. There it crosses
    * py4j; here it is a direct JVM call — works for both a Scala
    * `object` and a class with a static method. */
  def initUdfs(scalaUdfInitializer: String): Unit = {
    val (target, cls) =
      try {
        val c = Class.forName(scalaUdfInitializer + "$")
        (c.getField("MODULE$").get(null), c)
      } catch {
        case _: ClassNotFoundException =>
          (null, Class.forName(scalaUdfInitializer))
      }
    val m = cls.getMethods.find(_.getName == "initUdfs").getOrElse(
      throw new graft.core.SqlProcessorException(
        s"no initUdfs method on $scalaUdfInitializer"))
    m.invoke(target, spark)
  }

  /** Auto-create the output table from the query schema
    * (reference spark.py:158-185). Divergence: `using parquet` instead of
    * `using hive` — no Hive metastore in a Spark-native deployment; the
    * partition layout and insert semantics are identical. */
  def createTable(dbName: String, tableName: String, schema: StructType,
      partitions: Seq[TablePartition]): Unit = {
    var df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    partitions.foreach { p =>
      if (!schema.fieldNames.contains(p.field)) {
        val v = p.value.getOrElse(throw new SqlProcessorException(
          s"partition column value is None when create table with partitions " +
          s"but partition is not in dataframe: $dbName.$tableName, ${p.field}"))
        df = df.withColumn(p.field, lit(v))
      }
    }
    val tempView = s"${dbName}__${tableName}__table_data"
    createTempTable(df, tempView)
    val partitionExpr =
      if (partitions.nonEmpty)
        s"partitioned by (${partitions.map(_.field).mkString(",")}) "
      else ""
    execNativeSql(s"create database if not exists $dbName")
    execNativeSql(
      s"""create table if not exists $dbName.$tableName using parquet
         |$partitionExpr
         |as select * from $tempView""".stripMargin)
  }

  /** Column-name (and optionally type) compatibility check
    * (reference spark.py:187-220): target columns ⊆ source columns. */
  def verifySchema(sourceTable: TableMeta, targetTable: TableMeta,
      verifyType: Boolean = false): Unit = {
    if (!tableExists(targetTable))
      throw new SqlProcessorException(
        s"Verify schema failed. Target table ${targetTable.tableName} does not exist")
    val sourceFields = execNativeSql(
      s"select * from ${sourceTable.tableName}").schema.fields
    val targetFields = execNativeSql(
      s"select * from ${targetTable.tableName}").schema.fields
    val sourceNames = sourceFields.map(_.name.toLowerCase).toSet ++
      sourceTable.partitions.map(_.field.toLowerCase)
    val targetNames = targetFields.map(_.name.toLowerCase).toSet
    if (!targetNames.subsetOf(sourceNames))
      throw new SqlProcessorException(
        s"Target table ${targetTable.tableName} has columns that are not in " +
        s"source table ${sourceTable.tableName}: ${targetNames -- sourceNames}")
    val typeDiff = targetFields.filter { tf =>
      sourceNames.contains(tf.name.toLowerCase) &&
        sourceFields.exists(sf =>
          sf.name.equalsIgnoreCase(tf.name) && sf.dataType != tf.dataType)
    }
    if (typeDiff.nonEmpty && verifyType)
      throw new SqlProcessorException(
        s"Verify schema failed. target table ${targetTable.tableName} has " +
        s"columns whose type differ from source: ${typeDiff.map(_.name).mkString(",")}")
  }

  /** Save a temp view into a real table with static/dynamic partition
    * handling and column alignment (reference spark.py:248-310):
    *  - mixed static+dynamic: static values injected as lit() columns
    *    (SPARK-31605), insert with dynamic partition clause;
    *  - pure static: partition cols dropped from select, partition clause
    *    carries the values;
    *  - self-overwrite cycle broken by re-materializing from the RDD.
    */
  def saveTable(sourceTableMeta: TableMeta, targetTableMeta: TableMeta,
      saveMode: SaveMode.Value, createTargetTable: Boolean): Unit = {
    if (!tableExists(targetTableMeta) && createTargetTable) {
      val schema = spark.sql(
        s"select * from ${sourceTableMeta.tableName}").limit(0).schema
      createTable(
        targetTableMeta.dbName.getOrElse(
          throw new SqlProcessorException(
            s"db name required to create ${targetTableMeta.tableName}")),
        targetTableMeta.pureTableName, schema, targetTableMeta.partitions)
    }

    var tempRes = execNativeSql(s"select * from ${sourceTableMeta.tableName}")
    val dynamicPartitions = targetTableMeta.partitions.filter(_.value.isEmpty)
    val staticPartitions = targetTableMeta.partitions.filter(_.value.isDefined)
    var columns = execNativeSql(
      s"select * from ${targetTableMeta.tableName}").limit(0).columns.toSeq

    val fields: Seq[String] =
      if (dynamicPartitions.nonEmpty) {
        staticPartitions.foreach { p =>
          tempRes = tempRes.withColumn(p.field, lit(p.value.get))
        }
        tempRes = tempRes.selectExpr(columns.map(c => s"`$c`"): _*)
        dynamicPartitions.map(_.field)
      } else {
        columns = columns.filterNot(c =>
          staticPartitions.exists(_.field.equalsIgnoreCase(c)))
        tempRes = tempRes.selectExpr(columns.map(c => s"`$c`"): _*)
        targetTableMeta.partitions.map { p =>
          p.value.get match {
            case s: String => s"${p.field}='${s.replace("'", "''")}'"
            case v => s"${p.field}=$v"
          }
        }
      }
    val partitionExpr =
      if (fields.nonEmpty) s"partition (${fields.mkString(",")})" else ""

    def saveData(df: DataFrame): Unit = {
      val tempResName =
        s"${sourceTableMeta.pureTableName}__result__${System.identityHashCode(df)}"
      createTempTable(df, tempResName)
      val verb =
        if (saveMode == SaveMode.Append) "into" else "overwrite"
      execNativeSql(
        s"insert $verb table ${targetTableMeta.tableName} $partitionExpr " +
        s"select * from $tempResName")
    }

    try saveData(tempRes)
    catch {
      case e: Exception
          if Option(e.getMessage).exists(_.contains(
            "Cannot overwrite a path that is also being read from")) =>
        saveData(spark.createDataFrame(tempRes.rdd, tempRes.schema))
    }
  }

  /** Partition columns of a table, parsed from `desc` output
    * (reference spark.py:312-322). */
  def refreshTablePartitions(table: TableMeta): TableMeta = {
    val rows = execNativeSql(s"desc ${table.tableName}").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    val markerIdx = rows.indexWhere(_._1 == "# col_name")
    if (markerIdx == -1) table.updatePartitions(Nil)
    else table.updatePartitions(
      rows.drop(markerIdx + 1)
        .filterNot(r => r._1.startsWith("#") || r._1.trim.isEmpty)
        .map(r => TablePartition(r._1)).toSeq)
  }

  def clean(): Unit = {
    spark.catalog.clearCache()
    clearTempTables()
  }

  /** Test-fixture ingest (reference spark.py:330-349). */
  def createTableWithData(fullTableName: String, df: DataFrame,
      partitions: Seq[TablePartition]): Unit = {
    spark.sql(s"create database if not exists ${fullTableName.split("\\.")(0)}")
    spark.sql(s"drop table if exists $fullTableName")
    val w = if (partitions.nonEmpty)
      df.write.partitionBy(partitions.map(_.field): _*) else df.write
    w.mode("overwrite").saveAsTable(fullTableName)
  }

  def createTempTableWithData(name: String, df: DataFrame): Unit =
    createTempTable(df, name)
}
