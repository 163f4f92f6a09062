package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.WriteOps.SnapshotTable
import graft.operators.WriteOps.SnapshotTable.{ColStat, FileEntry}

/** THE SNAPSHOT DATA WRITER. Every data file a snapshot table stores —
  * batch commits (commit, append, optimize, branch staging), SQL
  * INSERT and INSERT OVERWRITE, UPDATE / MERGE, merge-on-read inserts
  * and the streaming sink — is written by [[SnapshotDataWriter]]
  * through Spark's own parquet writer, so every type Spark writes is a
  * type the table stores.
  *
  * A `SnapshotWriteJob` is the driver-prepared half: the row schema and
  * the `OutputWriterFactory` of `ParquetUtils.prepareWrite` over a conf
  * that also carries the table's bounded row groups
  * ([[SnapshotTable.rowGroupBytes]]) and its declared bloom columns as
  * parquet keys. It ships to the executors once per write. */
private[graft] final class SnapshotWriteJob private (val root: String,
    val schema: StructType, factory: OutputWriterFactory,
    conf: SerializableConfiguration) extends Serializable {

  def fs(p: HPath): FileSystem = p.getFileSystem(conf.value)

  /** A parquet file of `schema` rows at `path`. */
  def open(path: HPath): OutputWriter =
    factory.newInstance(path.toString, schema,
      new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))

  /** A task's data writer; its files are named
    * `<prefix>_y<year>_p<partition>_<token>.parquet` under `data/`. */
  def writer(partitionId: Int, prefix: String): SnapshotDataWriter =
    new SnapshotDataWriter(this, partitionId, prefix)
}

private[graft] object SnapshotWriteJob {
  /** Prepare a write of `schema` rows into `root`. Columns are written
    * nullable, as Spark's file sources write them. */
  def apply(s: SparkSession, root: String, schema: StructType,
      blooms: Seq[String] = Nil): SnapshotWriteJob = {
    val written = StructType(schema.fields.map(_.copy(nullable = true)))
    val base = s.sessionState.newHadoopConf()
    val job = Job.getInstance(base)
    val conf = job.getConfiguration
    // bounded row groups keep committed files SPLITTABLE — see
    // rowGroupBytes; adaptive bloom sizing keeps each bloom
    // proportional to its row group's distinct count
    conf.setLong("parquet.block.size", SnapshotTable.rowGroupBytes(base))
    val bs = blooms.filter(schema.fieldNames.contains)
    if (bs.nonEmpty)
      conf.setBoolean("parquet.bloom.filter.adaptive.enabled", true)
    bs.foreach(c => conf.setBoolean(s"parquet.bloom.filter.enabled#$c", true))
    val sqlConf = s.sessionState.conf
    val factory = ParquetUtils.prepareWrite(sqlConf, job, written,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    new SnapshotWriteJob(root, written, factory,
      new SerializableConfiguration(conf))
  }

  /** Write `frame`'s rows as fresh data files of `root` in ONE Spark job
    * (plus whatever stages `frame`'s own plan needs): each task keeps
    * one file per pt_year it sees, in row arrival order, and returns
    * finished entries. No SQL execution of its own starts, no file is
    * staged or renamed, and none is reopened for its stats. Returns the
    * fresh entries per year; their `born` is stamped at publish. */
  def write(s: SparkSession, root: String, prefix: String,
      frame: DataFrame, blooms: Seq[String]): Seq[(Int, Seq[FileEntry])] = {
    val job = SnapshotWriteJob(s, root, frame.schema, blooms)
    SnapshotFilesMsg.byYear(perTask(s, frame)((i, it) =>
      job.writer(i, prefix).writeAll(it).files).flatten)
  }

  /** Write `ids` (rowKey, pt_year) as merge-on-read tombstone files in
    * `dir`, in ONE Spark job with no SQL execution of its own. Returns
    * each file with the years it tombstones; a task that saw no row
    * writes no file. */
  def writeTombstones(s: SparkSession, root: String, dir: String,
      ids: DataFrame): Seq[(String, Seq[Int])] = {
    val job = SnapshotWriteJob(s, root, ids.schema)
    perTask(s, ids)((i, it) =>
      new SnapshotDvWriter(job, dir, i).writeAll(it)).flatten
  }

  /** `task` over each partition of `frame`'s rows, one job. */
  private def perTask[T: scala.reflect.ClassTag](s: SparkSession,
      frame: DataFrame)(task: (Int, Iterator[InternalRow]) => T): Seq[T] =
    SQLExecution.withSQLConfPropagated(
        s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]) {
      frame.queryExecution.toRdd.mapPartitionsWithIndex((i, it) =>
        Iterator.single(task(i, it))).collect().toSeq
    }
}

/** Executor-side tombstone writer: streams (rowKey, pt_year) ids
  * through Spark's parquet writer into ONE file of `dir`, created on
  * the first id — nothing buffers beyond parquet's own row group, so a
  * wide delete stays O(1) memory. The key type is checked once, when
  * the writer is built. */
private[graft] final class SnapshotDvWriter(job: SnapshotWriteJob,
    dir: String, partitionId: Int) {
  // the tombstone reader (DvCache) decodes these key types
  job.schema(0).dataType match {
    case LongType | IntegerType | DoubleType | StringType =>
    case dt => throw new UnsupportedOperationException(
      s"rowKey type ${dt.simpleString} is not tombstone-able")
  }
  private val path = new HPath(dir, f"t$partitionId%05d_" +
    s"${java.util.UUID.randomUUID().toString.take(8)}.parquet")
  private var out: OutputWriter = _
  private val years = mutable.SortedSet[Int]()

  def write(id: InternalRow): Unit = {
    require(!id.isNullAt(0) && !id.isNullAt(1),
      s"row-level delete saw a NULL ${job.schema(0).name}/pt_year id — " +
      "the rowKey column must be non-null on every row")
    if (out == null) out = job.open(path)
    out.write(id)
    years += id.getInt(1)
  }

  /** The finished file and the years it tombstones; None if empty. */
  def commit(): Option[(String, Seq[Int])] = Option(out).map { w =>
    w.close()
    (path.toString, years.toSeq)
  }

  def abort(): Unit = if (out != null) {
    try out.close() catch { case _: Exception => () }
    try job.fs(path).delete(path, false) catch { case _: Exception => () }
  }

  /** Write all of one task's ids and commit; a failure aborts. */
  def writeAll(ids: Iterator[InternalRow]): Option[(String, Seq[Int])] =
    try { ids.foreach(write); commit() }
    catch { case t: Throwable => abort(); throw t }
}

/** One task's fresh files: (pt_year, finished manifest entry). */
private[graft] case class SnapshotFilesMsg(files: Seq[(Int, FileEntry)])
    extends WriterCommitMessage

private[graft] object SnapshotFilesMsg {
  def filesOf(messages: Array[WriterCommitMessage]): Seq[(Int, FileEntry)] =
    messages.toSeq.collect { case m: SnapshotFilesMsg => m.files }.flatten

  /** Fresh entries per year, years and paths sorted. */
  def byYear(files: Seq[(Int, FileEntry)]): Seq[(Int, Seq[FileEntry])] =
    files.groupBy(_._1).toSeq.sortBy(_._1).map { case (y, fs) =>
      y -> fs.map(_._2).sortBy(_.path)
    }

  /** Reclaim the files of an aborted or replayed write. */
  def delete(files: Seq[(Int, FileEntry)]): Unit =
    files.foreach { case (_, e) => SnapshotTable.deleteTree(e.path) }
}

/** The DSv2 batch writes' factory (SQL INSERT and INSERT OVERWRITE,
  * UPDATE / MERGE replacement rows). */
private[sources] class SnapshotBatchWriterFactory(job: SnapshotWriteJob,
    prefix: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    job.writer(partitionId, prefix)
}

/** Executor-side row writer: one Spark parquet writer per pt_year this
  * task sees, each writing straight under `data/` at a name uniquified
  * by (prefix, partition, token) — a speculative or restarted task
  * never collides with a committed file. Each file's row count, null
  * counts and min/max are taken from the rows as they pass, so the
  * commit message carries finished manifest entries. */
private[graft] final class SnapshotDataWriter(job: SnapshotWriteJob,
    partitionId: Int, prefix: String) extends DataWriter[InternalRow] {

  private val schema = job.schema
  private val ptIdx = schema.fieldIndex("pt_year")
  private val token = java.util.UUID.randomUUID().toString.take(8)
  private val files = mutable.Map[Int, (HPath, OutputWriter, FileStats)]()
  // ReplaceData (SQL UPDATE / MERGE) feeds the writer rows PREFIXED
  // with Spark's __row_operation int column (RowDeltaUtils
  // .OPERATION_COLUMN; the plain DataWritingSparkTask hands the row
  // through unprojected when the operation declares no metadata
  // attributes) — the declared write schema stays the table schema,
  // so data fields sit at a fixed +1 offset, read through a view.
  // Other rows arrive unprefixed. Decided on the first row.
  private var width = -1
  private var view: ProjectingInternalRow = _

  override def write(row: InternalRow): Unit = {
    if (width < 0) {
      width = row.numFields
      require(width == schema.length || width == schema.length + 1,
        s"row width $width does not match write schema width " +
        s"${schema.length} (± the __row_operation column)")
      if (width > schema.length)
        view = ProjectingInternalRow(schema, 1 to schema.length)
    }
    val r = if (view == null) row else { view.project(row); view }
    require(!r.isNullAt(ptIdx),
      "a row has a NULL pt_year — the partition key must be non-null")
    val y = r.getInt(ptIdx)
    val (_, out, stats) = files.getOrElseUpdate(y, {
      val p = new HPath(new HPath(job.root, "data"),
        f"${prefix}_y${y}_p$partitionId%05d_$token.parquet")
      (p, job.open(p), new FileStats(schema))
    })
    out.write(r)
    stats.add(r)
  }

  override def commit(): SnapshotFilesMsg =
    SnapshotFilesMsg(files.toSeq.sortBy(_._1).map {
      case (y, (p, out, stats)) =>
        out.close()
        y -> FileEntry(p.toString, job.fs(p).getFileStatus(p).getLen,
          stats.encoded, stats.rows)
    })

  override def abort(): Unit = files.values.foreach { case (p, out, _) =>
    try out.close() catch { case _: Exception => () }
    try job.fs(p).delete(p, false) catch { case _: Exception => () }
  }

  override def close(): Unit = ()

  /** Write all of one task's rows and commit; a failure aborts. */
  def writeAll(rows: Iterator[InternalRow]): SnapshotFilesMsg =
    try { rows.foreach(write); commit() }
    catch { case t: Throwable => abort(); throw t }
}

/** One file's statistics, taken from its rows as they are written: the
  * row count and, per stat column ([[SnapshotTable.statColsOf]]), the
  * exact null count and min/max — integral and date columns as Long,
  * double and float as the value's exact double, strings in unsigned
  * UTF-8 byte order. A column with no non-null value, or holding a NaN,
  * records no bounds, only its null count. */
private final class FileStats(schema: StructType) {
  var rows = 0L
  private val cols: Array[ColBounds] = {
    val typ = SnapshotTable.statColsOf(schema)
    schema.fields.indices.collect {
      case i if typ.contains(schema(i).name) =>
        new ColBounds(i, schema(i).dataType, typ(schema(i).name))
    }.toArray
  }

  def add(r: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < cols.length) { cols(i).add(r); i += 1 }
  }

  def encoded: String = SnapshotTable.encodeStats(
    cols.map(c => schema(c.ordinal).name -> c.stat).toMap)
}

private final class ColBounds(val ordinal: Int, dt: DataType, typ: Char) {
  private var nulls = 0L
  private var seen = false
  private var nan = false
  private var lo, hi = 0L
  private var dlo, dhi = 0.0
  private var slo, shi: UTF8String = _

  def add(r: InternalRow): Unit =
    if (r.isNullAt(ordinal)) nulls += 1
    else {
      dt match {
        case LongType => long(r.getLong(ordinal))
        case IntegerType | DateType => long(r.getInt(ordinal))
        case ShortType => long(r.getShort(ordinal))
        case ByteType => long(r.getByte(ordinal))
        case DoubleType => double(r.getDouble(ordinal))
        case FloatType => double(r.getFloat(ordinal).toDouble)
        case _ => string(r.getUTF8String(ordinal))
      }
      seen = true
    }

  private def long(v: Long): Unit =
    if (!seen) { lo = v; hi = v }
    else { if (v < lo) lo = v; if (v > hi) hi = v }

  private def double(v: Double): Unit =
    if (v.isNaN) nan = true
    else if (!seen) { dlo = v; dhi = v }
    else { if (v < dlo) dlo = v; if (v > dhi) dhi = v }

  // the row's bytes are reused by the next row: keep copies
  private def string(v: UTF8String): Unit =
    if (!seen) { slo = v.clone(); shi = slo }
    else {
      if (v.binaryCompare(slo) < 0) slo = v.clone()
      if (v.binaryCompare(shi) > 0) shi = v.clone()
    }

  def stat: ColStat =
    if (!seen || nan) ColStat(typ, "", "", nulls)
    else typ match {
      case 'L' => ColStat(typ, lo.toString, hi.toString, nulls)
      case 'D' => ColStat(typ, dlo.toString, dhi.toString, nulls)
      case _ => ColStat(typ, slo.toString, shi.toString, nulls)
    }
}
