package graft.backend

/** Backend-agnostic view of one step's result set.
  *
  * The reference ETL engine runs the same step language against Spark and
  * against plain JDBC warehouses (easy_sql/sql_processor/backend/base.py:206-230
  * defines the Table/Row surface the processor is written against). This is
  * the Scala analogue: [[graft.etl.SqlProcessor]] only ever needs a handful
  * of row-level operations — field names, a bounded collect, a lazily
  * composed limit / derived column — so the trait stays deliberately small
  * and every implementation keeps its native laziness (Catalyst plans for
  * Spark, composed `select` text for RDB views).
  */
trait TableLike {

  /** Column names, in select order. */
  def fieldNames: Seq[String]

  def isEmpty: Boolean

  /** Values of the first row, aligned with [[fieldNames]]; SQL NULL is
    * represented as `null`. Fails if the result set is empty — variable
    * steps require at least one row, matching Spark's `Dataset.first`. */
  def firstRow: Seq[Any]

  /** Lazily bound row limit — not executed until a terminal op runs. */
  def limit(n: Int): TableLike

  /** Append a derived column computed by a backend SQL expression. Lazy,
    * like [[limit]]. The expression is backend dialect SQL (it is pasted
    * into a `select`), which is exactly what the step language's
    * `extraCols` carry. */
  def withColumnExpr(name: String, sqlExpr: String): TableLike

  /** Materialize rows as value sequences aligned with [[fieldNames]].
    * Implementations may cap unbounded reads (the RDB backend caps at
    * 1000 rows, reference rdb.py:211-212); processor call sites always
    * bound the read first (log ≤20, check ≤100). */
  def collectRows(): Seq[Seq[Any]]

  /** Print up to n rows for interactive logs. */
  def show(n: Int): Unit = show(limit(n + 1).collectRows(), n)

  /** Print `rows`, already collected from this table (up to n + 1 of
    * them), as [[show]](n) prints the table: a caller that holds the
    * rows does not run the query again. */
  def show(rows: Seq[Seq[Any]], n: Int): Unit

  def count(): Long
}

/** The capability surface [[graft.etl.SqlProcessor]] executes against —
  * one implementation per engine (reference base.py:21-120). Spark is the
  * primary, scale-out implementation ([[SparkBackend]]); [[graft.backend.rdb.RdbBackend]]
  * drives JDBC warehouses through a [[graft.backend.rdb.SqlDialect]].
  *
  * Method names mirror the reference's backend protocol so an Easy-SQL
  * file is engine-portable: the processor never sees DataFrames or JDBC
  * connections, only this trait.
  */
trait Backend {

  /** Run a select and return its (lazy) result. */
  def execSql(sql: String): TableLike

  /** Run a statement for its side effects (DDL, insert, set ...). */
  def execNativeSql(sql: String): Any

  /** A zero-column, zero-row table — the result of steps that only have
    * side effects (template registration, skipped checks, func targets). */
  def createEmptyTable(): TableLike

  /** Register the step result under a session-scoped name so later steps
    * can select from it. */
  def createTempTable(table: TableLike, name: String): Unit

  /** Temp table + eager materialization where the engine supports it. */
  def createCacheTable(table: TableLike, name: String): Unit

  /** Temp table + broadcast hint where the engine supports it. */
  def broadcastTable(table: TableLike, name: String): Unit

  /** Session-scoped table names created so far. */
  def tempTables(): Seq[String]

  def clearTempTables(exclude: Seq[String]): Unit

  def clearCache(): Unit

  def tableExists(table: TableMeta): Boolean

  /** Re-resolve the partition columns of an existing table from engine
    * metadata, returning an updated meta. Engines without native
    * partitioning return the meta unchanged. */
  def refreshTablePartitions(table: TableMeta): TableMeta

  /** Column-compatibility check between a staged result and the output
    * table: target columns must all be present in the source. */
  def verifySchema(sourceTable: TableMeta, targetTable: TableMeta,
      verifyType: Boolean): Unit

  /** The output-step workhorse: write a staged temp table into a real
    * table honoring save mode, static/dynamic partitions and column
    * alignment; optionally auto-create the target. */
  def saveTable(sourceTableMeta: TableMeta, targetTableMeta: TableMeta,
      saveMode: SaveMode.Value, createTargetTable: Boolean): Unit

  /** End-of-run cleanup of session-scoped state. */
  def clean(): Unit
}
