package graft.backend.rdb

import java.sql.{Connection, DriverManager, ResultSet}

import scala.collection.mutable

import graft.backend.{Backend, SaveMode, TableLike, TableMeta, TablePartition}
import graft.core.SqlProcessorException

/** Column (name, dialect type string) — reference base.py:13-18. */
final case class RdbCol(name: String, colType: String)

/** [[TableLike]] over a composed SQL text: limits and derived columns
  * fold into the select instead of materializing (reference rdb.py:75-155
  * keeps the same laziness with an action list + temp views; composing
  * the text directly needs no view bookkeeping and stays fully lazy).
  * Field names come from JDBC `PreparedStatement.getMetaData`, which most
  * engines answer without executing the query. */
final class RdbTable(backend: RdbBackend, val sql: String) extends TableLike {

  private def requireSql(): Unit =
    if (sql.isEmpty) throw new SqlProcessorException(
      "operation not supported on the empty table")

  def fieldNames: Seq[String] =
    if (sql.isEmpty) Nil else backend.queryFieldNames(sql)

  def isEmpty: Boolean = sql.isEmpty || limit(1).collectRows().isEmpty

  def firstRow: Seq[Any] = {
    requireSql()
    limit(1).collectRows().headOption.getOrElse(
      throw new SqlProcessorException(s"no rows returned by: $sql"))
  }

  def limit(n: Int): TableLike = {
    requireSql()
    new RdbTable(backend, backend.dialect.selectLimitSql(sql, n))
  }

  def withColumnExpr(name: String, sqlExpr: String): TableLike = {
    requireSql()
    new RdbTable(backend,
      s"select newcol_q.*, $sqlExpr as $name from ($sql) newcol_q")
  }

  /** Bounded at 1000 rows like the reference (rdb.py:211-212) — processor
    * call sites always bound tighter first (log ≤20, check ≤100). */
  def collectRows(): Seq[Seq[Any]] =
    if (sql.isEmpty) Nil else backend.queryRows(sql, RdbBackend.MaxCollectRows)

  def show(rows: Seq[Seq[Any]], n: Int): Unit = {
    println(fieldNames.mkString("\t"))
    rows.take(n).foreach(r =>
      println(r.map(v => if (v == null) "null" else v.toString).mkString("\t")))
  }

  def count(): Long = {
    requireSql()
    backend.queryRows(s"select count(1) from ($sql) count_q", 1).head.head match {
      case n: Number => n.longValue()
      case other => other.toString.toLong
    }
  }
}

object RdbBackend {
  val MaxCollectRows = 1000

  /** jdbc:derby:memory URLs get the embedded driver loaded on demand. */
  def connect(url: String): Connection = {
    if (url.startsWith("jdbc:derby:"))
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    DriverManager.getConnection(url)
  }

  def dialectFor(url: String): SqlDialect =
    if (url.startsWith("jdbc:derby:")) new DerbyDialect()
    else if (url.startsWith("jdbc:postgresql:")) new PostgresDialect()
    else if (url.startsWith("jdbc:clickhouse:")) new ClickHouseDialect()
    else if (url.startsWith("jdbc:bigquery:")) new BigQueryDialect()
    else if (url.startsWith("jdbc:odps:")) new MaxComputeDialect()
    else throw new SqlProcessorException(s"no dialect for JDBC url: $url")
}

/** The step language over any JDBC warehouse (reference rdb.py:390-793),
  * re-expressed over plain `java.sql` — no ORM layer. All temp state
  * lives in a per-session schema (`sp_temp_<epoch>_<rand>`) of views, so
  * `clean()` is one schema drop and concurrent ETLs never collide. All
  * engine-specific text comes from the [[SqlDialect]]; everything here is
  * protocol:
  *
  *  - `saveTable` stages the result, aligns columns against the target,
  *    then per save mode: overwrite = write a `__temp` table and either
  *    swap it in (no partitions) or delete+insert / move each affected
  *    partition; append = straight keyed inserts.
  *  - dialects without static partitions get a partition-metadata table
  *    maintained on every mutation.
  *
  * Scale note: this backend is for warehouse-side ELT — the engine is the
  * scale story (the SQL pushes down entirely); nothing is ever pulled
  * through the driver except capped log/check reads (≤1000 rows).
  */
final class RdbBackend private (
    val conn: Connection,
    val dialect: SqlDialect,
    urlForReset: Option[String]) extends Backend {

  def this(url: String) =
    this(RdbBackend.connect(url), RdbBackend.dialectFor(url), Some(url))
  def this(conn: Connection, dialect: SqlDialect) =
    this(conn, dialect, None)

  val tempSchema: String =
    s"sp_temp_${System.currentTimeMillis() / 1000}_${
      (math.abs(scala.util.Random.nextInt()) % 10000).formatted("%04d")}"

  // registration order preserved for deterministic clean-up enumeration
  private val tempViews = mutable.LinkedHashSet[String]()
  private val stagedSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def stagedViewName(target: TableMeta, kind: String): String =
    s"${target.pureTableName}__staged_${kind}_${stagedSeq.incrementAndGet()}"

  ensureDb(tempSchema)
  // session's default schema = the temp schema, so steps can reference
  // temp tables unqualified (reference rdb.py:422-423 use_db_sql)
  exec(dialect.useDbSql(tempSchema))

  // ------------------------------------------------------------------
  // JDBC plumbing
  // ------------------------------------------------------------------

  def exec(sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql)
    finally st.close()
  }

  def execAll(sqls: Seq[String]): Unit = sqls.filter(_.nonEmpty).foreach(exec)

  def queryRows(sql: String, max: Int): Seq[Seq[Any]] = {
    val st = conn.createStatement()
    try {
      if (max > 0 && max < Int.MaxValue) st.setMaxRows(max)
      val rs = st.executeQuery(sql)
      try {
        val n = rs.getMetaData.getColumnCount
        val out = mutable.ArrayBuffer[Seq[Any]]()
        while (rs.next() && out.length < max)
          out += (1 to n).map(i => normalize(rs.getObject(i)))
        out.toSeq
      } finally rs.close()
    } finally st.close()
  }

  /** Decimal → double etc. so check-step comparisons are type-stable
    * across engines (reference rdb.py:352-355). */
  private def normalize(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue()
    case c: java.sql.Clob => c.getSubString(1, c.length().toInt)
    case other => other
  }

  def queryFieldNames(sql: String): Seq[String] = {
    val ps = conn.prepareStatement(sql)
    try {
      val md = ps.getMetaData
      if (md == null) throw new SqlProcessorException(
        s"engine cannot describe query without executing it: $sql")
      (1 to md.getColumnCount).map(i => md.getColumnLabel(i).toLowerCase)
    } finally ps.close()
  }

  private def jdbcMeta = conn.getMetaData

  private def schemaNames(): Seq[String] = {
    val rs = jdbcMeta.getSchemas
    try {
      val out = mutable.ArrayBuffer[String]()
      while (rs.next()) out += rs.getString("TABLE_SCHEM").toLowerCase
      out.toSeq
    } finally rs.close()
  }

  private def tableNames(db: String): Seq[String] = {
    // JDBC metadata is case-exact; unquoted identifiers are stored
    // upper-case by Derby, lower-case by Postgres — try both
    val out = mutable.LinkedHashSet[String]()
    Seq(db.toUpperCase, db.toLowerCase).distinct.foreach { schema =>
      val rs = jdbcMeta.getTables(null, schema, "%",
        Array("TABLE", "VIEW"))
      try while (rs.next()) out += rs.getString("TABLE_NAME").toLowerCase
      finally rs.close()
    }
    out.toSeq.sorted
  }

  def columnNames(db: String, table: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    Seq((db.toUpperCase, table.toUpperCase),
        (db.toLowerCase, table.toLowerCase)).distinct.foreach {
      case (s, t) =>
        if (out.isEmpty) {
          val rs = jdbcMeta.getColumns(null, s, t, "%")
          try while (rs.next()) out += rs.getString("COLUMN_NAME").toLowerCase
          finally rs.close()
        }
    }
    out.toSeq
  }

  /** (name, dialect type) pairs from JDBC metadata. */
  def columns(db: String, table: String): Seq[RdbCol] = {
    val out = mutable.ArrayBuffer[RdbCol]()
    Seq((db.toUpperCase, table.toUpperCase),
        (db.toLowerCase, table.toLowerCase)).distinct.foreach {
      case (s, t) =>
        if (out.isEmpty) {
          val rs = jdbcMeta.getColumns(null, s, t, "%")
          try while (rs.next()) {
            val typeName = rs.getString("TYPE_NAME")
            val size = rs.getInt("COLUMN_SIZE")
            val scale = rs.getInt("DECIMAL_DIGITS")
            // length/precision are part of the type for these families —
            // "CHAR" alone means CHAR(1) in Derby
            val withSize = typeName.toUpperCase match {
              case "CHAR" | "VARCHAR" if size > 0 => s"$typeName($size)"
              case "DECIMAL" | "NUMERIC" if size > 0 =>
                s"$typeName($size,$scale)"
              case _ => typeName
            }
            out += RdbCol(rs.getString("COLUMN_NAME").toLowerCase, withSize)
          } finally rs.close()
        }
    }
    out.toSeq
  }

  def dbExists(db: String): Boolean = schemaNames().contains(db.toLowerCase)

  private def ensureDb(db: String): Unit =
    if (!dbExists(db)) exec(dialect.createDbSql(db))

  // ------------------------------------------------------------------
  // Backend protocol
  // ------------------------------------------------------------------

  def execSql(sql: String): RdbTable = new RdbTable(this, sql)

  def execNativeSql(sql: String): Any = { exec(sql); () }

  def createEmptyTable(): TableLike = new RdbTable(this, "")

  private def qualifyTemp(name: String): String =
    if (name.contains(".")) name else s"$tempSchema.$name"

  def saveToTempView(table: TableLike, name: String): Unit = {
    if (name.contains("."))
      throw new SqlProcessorException(
        s"temp table name must be unqualified, got $name")
    if (tempViews.contains(name))
      throw new SqlProcessorException(
        s"temp table $name already exists and cannot be replaced")
    val sql = table match {
      case r: RdbTable => r.sql
      case other => throw new SqlProcessorException(
        s"RdbBackend can only register RDB tables, got ${other.getClass}")
    }
    exec(dialect.createViewSql(s"$tempSchema.$name", sql))
    tempViews += name
  }

  def createTempTable(table: TableLike, name: String): Unit =
    saveToTempView(table, name)
  /** Caching/broadcast are engine-side concerns a warehouse already
    * handles; both register a plain view (reference rdb.py:566-572). */
  def createCacheTable(table: TableLike, name: String): Unit =
    saveToTempView(table, name)
  def broadcastTable(table: TableLike, name: String): Unit =
    saveToTempView(table, name)

  def tempTables(): Seq[String] = tableNames(tempSchema)

  def clearTempTables(exclude: Seq[String] = Nil): Unit =
    tempTables().filterNot(exclude.contains).foreach { t =>
      exec(dialect.dropViewSql(s"$tempSchema.$t"))
      tempViews -= t
    }

  def clearCache(): Unit = ()

  def tableExists(table: TableMeta): Boolean = {
    val db = table.dbName.getOrElse(tempSchema)
    dbExists(db) && tableNames(db).contains(table.pureTableName.toLowerCase)
  }

  def refreshTablePartitions(table: TableMeta): TableMeta =
    if (!dialect.supportNativePartition) table
    else {
      val (sql, parse) = dialect.nativePartitionsSql(table.tableName)
      table.updatePartitions(
        parse(queryRows(sql, 100)).map(TablePartition(_)))
    }

  def verifySchema(sourceTable: TableMeta, targetTable: TableMeta,
      verifyType: Boolean = false): Unit = {
    def colsOf(t: TableMeta) =
      columnNames(t.dbName.getOrElse(tempSchema), t.pureTableName)
    val sourceCols = colsOf(sourceTable).toSet ++
      sourceTable.partitions.map(_.field.toLowerCase)
    val targetCols = colsOf(targetTable).toSet
    if (!targetCols.subsetOf(sourceCols))
      throw new SqlProcessorException(
        s"Target table ${targetTable.tableName} has columns that are not " +
        s"in source table ${sourceTable.tableName}: " +
        (targetCols -- sourceCols).mkString(","))
  }

  /** Stage a source as `select *` + any missing static partition columns
    * appended as literals (reference rdb.py:87-100). */
  private def stagedSelect(source: TableMeta): RdbTable = {
    var t: TableLike = new RdbTable(this,
      s"select * from ${qualifyTemp(source.tableName)}")
    val existing = t.fieldNames.toSet
    source.partitions.foreach { p =>
      if (!existing.contains(p.field.toLowerCase) && p.value.isDefined)
        t = t.withColumnExpr(p.field, dialect.sqlExpr.forValue(p.value.get))
    }
    t.asInstanceOf[RdbTable]
  }

  /** Distinct partition values present in the staged source — the
    * dynamic-partition write set (reference rdb.py:589-603). */
  private def savePartitionSets(source: TableMeta,
      target: TableMeta): Seq[Seq[TablePartition]] =
    if (target.partitions.exists(_.value.isEmpty)) {
      val ptCols = target.partitions.map(_.field)
      val sourceName = qualifyTemp(source.tableName)
      queryRows(
        s"select distinct ${ptCols.mkString(", ")} from $sourceName", 10000)
        .map(vs => ptCols.zip(vs).map { case (f, v) =>
          TablePartition(f, Some(v))
        })
    } else if (target.partitions.nonEmpty) Seq(target.partitions)
    else Nil

  /** Create the target from the staged source's shape and load it
    * (reference rdb.py:273-334 save_to_table). */
  private def createTargetFromSource(source: TableMeta,
      target: TableMeta): Unit = {
    val staged = stagedSelect(source)
    val stagedView = stagedViewName(target, "create")
    exec(dialect.createViewSql(s"$tempSchema.$stagedView", staged.sql))
    tempViews += stagedView
    val cols = columns(tempSchema, stagedView)
    ensureDb(target.dbName.getOrElse(throw new SqlProcessorException(
      s"db name required to create ${target.tableName}")))
    exec(dialect.createTableWithPartitionsSql(target.tableName,
      cols.map(c => c.name -> c.colType), target.partitions))
    val colNamesExpr = cols.map(_.name).mkString(", ")
    val ptSets = savePartitionSets(
      TableMeta(s"$tempSchema.$stagedView"), target)
    if (ptSets.isEmpty)
      execAll(dialect.insertDataSql(target.tableName, colNamesExpr,
        s"select $colNamesExpr from $tempSchema.$stagedView", Nil))
    else ptSets.foreach { pts =>
      if (!dialect.createPartitionAutomatically)
        exec(dialect.createPartitionSql(target.tableName, pts,
          ifNotExists = true))
      val filter = pts.map(p =>
        s"${p.field} = ${dialect.sqlExpr.forValue(p.value.get)}")
        .mkString(" and ")
      execAll(dialect.insertDataSql(target.tableName, colNamesExpr,
        s"select $colNamesExpr from $tempSchema.$stagedView where $filter",
        pts))
    }
  }

  def saveTable(sourceTableMeta: TableMeta, targetTableMeta: TableMeta,
      saveMode: SaveMode.Value, createTargetTable: Boolean): Unit = {
    val target = targetTableMeta
    if (!dialect.supportStaticPartition) {
      target.dbName.foreach(ensureDb)
      ensurePtMetaTable(target.dbName)
    }
    if (!tableExists(target)) {
      if (!createTargetTable)
        throw new SqlProcessorException(
          s"target table ${target.tableName} does not exist and " +
          "create_target_table is false")
      createTargetFromSource(
        sourceTableMeta.copy(partitions = target.partitions), target)
      return
    }

    val source = sourceTableMeta.copy(partitions = target.partitions)
    val staged = stagedSelect(source)
    val stagedView = stagedViewName(target, "save")
    exec(dialect.createViewSql(s"$tempSchema.$stagedView", staged.sql))
    tempViews += stagedView
    val sourceCols = columnNames(tempSchema, stagedView)
    val targetCols =
      columnNames(target.dbName.getOrElse(tempSchema), target.pureTableName)
    if (!targetCols.toSet.subsetOf(sourceCols.toSet))
      throw new SqlProcessorException(
        s"source columns $sourceCols do not cover target columns $targetCols")
    val colNamesExpr = targetCols.mkString(", ")
    val stagedMeta = TableMeta(s"$tempSchema.$stagedView")
    val ptSets = savePartitionSets(stagedMeta, target)

    saveMode match {
      case SaveMode.Append =>
        if (ptSets.isEmpty)
          execAll(dialect.insertDataSql(target.tableName, colNamesExpr,
            s"select $colNamesExpr from $tempSchema.$stagedView", Nil))
        else ptSets.foreach { pts =>
          if (!dialect.createPartitionAutomatically)
            exec(dialect.createPartitionSql(target.tableName, pts,
              ifNotExists = true))
          val filter = pts.map(p =>
            s"${p.field} = ${dialect.sqlExpr.forValue(p.value.get)}")
            .mkString(" and ")
          execAll(dialect.insertDataSql(target.tableName, colNamesExpr,
            s"select $colNamesExpr from $tempSchema.$stagedView " +
            s"where $filter", pts))
        }

      case SaveMode.Overwrite if ptSets.isEmpty =>
        // whole-table swap through a __temp sibling so reading from the
        // table being overwritten stays consistent (reference rdb.py:702-750)
        val tempTable = s"${target.tableName}__temp"
        if (tableExists(TableMeta(tempTable)))
          execAll(dialect.dropTableSql(tempTable))
        exec(dialect.createTableLikeSql(tempTable, target.tableName, Nil))
        execAll(dialect.insertDataSql(tempTable, colNamesExpr,
          s"select $colNamesExpr from $tempSchema.$stagedView", Nil))
        execAll(dialect.dropTableSql(target.tableName))
        exec(dialect.renameTableSql(tempTable, target.tableName))

      case SaveMode.Overwrite =>
        // per-partition overwrite: delete/drop each affected partition,
        // then load it back — untouched partitions are never rewritten
        ptSets.foreach { pts =>
          execAll(dialect.deletePartitionSql(target.tableName, pts))
          if (!dialect.createPartitionAutomatically)
            exec(dialect.createPartitionSql(target.tableName, pts))
          val filter = pts.map(p =>
            s"${p.field} = ${dialect.sqlExpr.forValue(p.value.get)}")
            .mkString(" and ")
          execAll(dialect.insertDataSql(target.tableName, colNamesExpr,
            s"select $colNamesExpr from $tempSchema.$stagedView " +
            s"where $filter", pts))
        }
    }
  }

  private var ptMetaReady = false
  private val ptMetaReadyDbs = mutable.Set[String]()
  /** Ensure the partition-metadata table exists. For globally-scoped
    * dialects ([[PtMetaTableSupport]]) the table location is fixed and
    * this runs once per backend; for dataset-scoped dialects
    * ([[DatasetPtMetaSupport]], BigQuery) the table is PER TARGET DATASET
    * (reference rdb.py:621 creates it on every save for every
    * non-static-partition dialect), so it runs once per dataset seen. */
  private def ensurePtMetaTable(targetDb: Option[String] = None): Unit =
    dialect match {
      case pt: PtMetaTableSupport if !ptMetaReady =>
        val (db, table) = {
          val i = pt.partitionsTableName.indexOf('.')
          (pt.partitionsTableName.substring(0, i),
            pt.partitionsTableName.substring(i + 1))
        }
        ensureDb(db)
        if (!tableNames(db).contains(table.toLowerCase))
          execAll(dialect.createPtMetaTableSql(db))
        ptMetaReady = true
      case _: DatasetPtMetaSupport =>
        targetDb.filterNot(ptMetaReadyDbs.contains).foreach { db =>
          execAll(dialect.createPtMetaTableSql(db))
          ptMetaReadyDbs += db
        }
      case _ => ()
    }

  /** Partition values recorded for a table — from the metadata table for
    * metadata-tracked dialects (reference funcs_rdb.py:210-242). */
  def partitionValues(table: TableMeta): Seq[String] = dialect match {
    case pt: PtMetaTableSupport =>
      ensurePtMetaTable()
      val db = table.dbName.getOrElse(tempSchema)
      queryRows(
        s"select partition_value from ${pt.partitionsTableName} " +
        s"where db_name = '$db' and table_name = '${table.pureTableName}' " +
        "order by partition_value", 10000).map(_.head.toString)
    case ds: DatasetPtMetaSupport =>
      // per-dataset meta table, no db_name column (the dataset IS the key)
      val db = table.dbName.getOrElse(tempSchema)
      ensurePtMetaTable(Some(db))
      queryRows(
        s"select partition_value from ${ds.ptMetaTable(db)} " +
        s"where table_name = '${table.pureTableName}' " +
        "order by partition_value", 10000).map(_.head.toString)
    case _ => throw new SqlProcessorException(
      s"partition listing not implemented for ${dialect.getClass.getSimpleName}")
  }

  /** Test-fixture ingest (reference rdb.py:656-688). */
  def createTableWithData(fullTableName: String, rows: Seq[Seq[Any]],
      schema: Seq[RdbCol], partitions: Seq[TablePartition]): Unit = {
    val (db, _) = {
      val i = fullTableName.indexOf('.')
      (fullTableName.substring(0, i), fullTableName.substring(i + 1))
    }
    ensureDb(db)
    exec(dialect.createTableWithPartitionsSql(fullTableName,
      schema.map(c => c.name -> c.colType), partitions))
    insertRows(fullTableName, rows, schema)
    if (partitions.nonEmpty && !dialect.supportStaticPartition) {
      ensurePtMetaTable(Some(db))
      val colIdx = schema.map(_.name).zipWithIndex.toMap
      val ptValues = rows.map(r =>
        partitions.map(p => p.field -> r(colIdx(p.field)))).distinct
      ptValues.foreach { pvs =>
        execAll(dialect.insertPtMetadataSql(fullTableName,
          pvs.map { case (f, v) => TablePartition(f, Some(v)) }))
      }
    }
  }

  def createTempTableWithData(name: String, rows: Seq[Seq[Any]],
      schema: Seq[RdbCol]): Unit = {
    val qualified = s"$tempSchema.$name"
    exec(dialect.createTableWithPartitionsSql(qualified,
      schema.map(c => c.name -> c.colType), Nil))
    insertRows(qualified, rows, schema)
    tempViews += name
  }

  private def insertRows(table: String, rows: Seq[Seq[Any]],
      schema: Seq[RdbCol]): Unit = {
    if (rows.isEmpty) return
    val placeholders = schema.map(_ => "?").mkString(", ")
    val cols = schema.map(_.name).mkString(", ")
    val ps = conn.prepareStatement(
      s"insert into $table ($cols) values ($placeholders)")
    try {
      rows.foreach { r =>
        r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  private val registeredUdfs = mutable.ArrayBuffer[String]()

  /** Execute warehouse-side UDF DDL (reference rdb.py:511-516: whatever
    * the registry returns runs as statements). Duplicate-object errors
    * are tolerated so re-initialization in a shared warehouse is safe. */
  def registerUdfs(udfs: Seq[(String, Seq[String])]): Unit =
    udfs.foreach { case (name, sqls) =>
      try {
        execAll(sqls)
        registeredUdfs += name
      } catch {
        case e: java.sql.SQLException
            if Option(e.getMessage).exists(_.contains("already exists")) =>
          ()
      }
    }

  /** Register the dialect's default UDF surface (reference
    * rdb.py:508-509 init_udfs → udfs.get_udfs(backend_type)). */
  def initUdfs(): Unit =
    registerUdfs(graft.functions.RdbUdfs.forDialect(dialect))

  def clean(): Unit = {
    if (dialect.dropDbRequiresEmpty) {
      // functions registered into the session schema block the schema
      // drop the same way views do
      registeredUdfs.foreach { f =>
        try exec(s"drop function $tempSchema.$f")
        catch { case _: java.sql.SQLException =>
          try exec(s"drop function $f")
          catch { case _: java.sql.SQLException => () }
        }
      }
      registeredUdfs.clear()
    }
    if (dialect.dropDbRequiresEmpty) {
      // Derby: a schema only drops once empty — drop members first.
      // Views may depend on each other; registration order is creation
      // order, so dropping in reverse respects dependencies.
      tempViews.toSeq.reverse.foreach { v =>
        try exec(dialect.dropViewSql(s"$tempSchema.$v"))
        catch { case _: java.sql.SQLException => () }
      }
      tempViews.clear()
      tableNames(tempSchema).foreach { t =>
        try exec(dialect.dropTableSql(s"$tempSchema.$t").head)
        catch { case _: java.sql.SQLException => () }
      }
    }
    try execAll(dialect.dropDbSql(tempSchema))
    catch { case _: java.sql.SQLException => () }
  }

  def close(): Unit = {
    try clean() catch { case _: Exception => () }
    try conn.close() catch { case _: Exception => () }
  }
}
