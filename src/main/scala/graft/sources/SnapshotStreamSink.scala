package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.operators.WriteOps.SnapshotTable

/** NATIVE STREAMING SINK for the snapshot table — the write half that
  * makes `graft-snapshot` a full DSv2 connector: `df.writeStream
  * .format("graft-snapshot").option("root", ...)` lands every epoch as
  * one APPEND version with the (queryId, epochId) txn recorded in the
  * manifest, exactly Delta's streaming-sink discipline:
  *
  *  - rows are written EXECUTOR-SIDE: each task keeps one parquet-mr
  *    writer per pt_year it encounters, and only (year, path, bytes)
  *    triples return to the driver as commit messages — at a 1000-task
  *    epoch the driver sees 1000 small messages, never rows;
  *  - the epoch commit is [[SnapshotTable.commitAppendEntries]] — the
  *    TRUE-APPEND manifest merge (parent entries copied as metadata
  *    lines, fresh files appended), with footer stats collected once
  *    per epoch so data skipping covers streamed data too;
  *  - EXACTLY-ONCE: a replayed epochId (at-least-once re-delivery
  *    after a crash between sink commit and checkpoint write) is
  *    recognized via the manifest txn line BEFORE publishing, and the
  *    replay's freshly-staged files are deleted as orphans; an ABORTED
  *    epoch deletes its files too — the manifest only ever references
  *    fully-committed epochs;
  *  - an EMPTY epoch commits nothing (no version burned).
  *
  * The sink root must be an initialized table (commit v0 first —
  * possibly EMPTY with just the recorded schema, as the medallion
  * pipeline does): Spark resolves the sink table's schema from the
  * head manifest before the stream starts. Output mode is append;
  * complete/update refuse (a snapshot table's history is append-only
  * by construction). */
private[sources] object SnapshotParquet {
  /** StructType → parquet-mr MessageType for the flat schemas the
    * snapshot tables hold; the annotations match what Spark's parquet
    * reader ([[SnapshotReaderFactory]]) maps back to each type. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val fb = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case ShortType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case ByteType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true))
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case dt => throw new UnsupportedOperationException(
          s"graft-snapshot sink does not write ${dt.simpleString} " +
          s"(column '${f.name}')")
      }
      b.addField(fb.named(f.name))
    }
    b.named("spark_schema")
  }
}

/** One task's fresh files: (pt_year, path, bytes). */
private[sources] case class SnapshotFilesMsg(
    files: Seq[(Int, String, Long)]) extends WriterCommitMessage

private[sources] class SnapshotStreamingWrite(root: String,
    schemaJson: String, queryId: String, conf: SerializableConfiguration,
    compactEvery: Option[Int] = None)
    extends StreamingWrite {

  private def schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  // the streaming QUERY id is stable across restarts (it lives in the
  // checkpoint metadata), so (app, epochId) identifies a delivery
  private def app = s"stream-$queryId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new SnapshotStreamWriterFactory(root, schemaJson, conf)

  private def filesOf(messages: Array[WriterCommitMessage]) =
    messages.collect { case m: SnapshotFilesMsg => m.files }.flatten.toSeq

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = filesOf(messages)
    if (SnapshotTable.lastTxn(root, app).exists(_ >= epochId)) {
      // replayed epoch (crash between sink commit and checkpoint
      // write): the re-staged files are orphans — reclaim them now
      files.foreach { case (_, p, _) => SnapshotTable.deleteTree(p) }
    } else if (files.nonEmpty) {
      val s = SparkSession.active
      val touched = files.map(_._1).distinct.sorted
      val staged = SnapshotTable.freshEntries(s, files, schema)
      // OPTIMISTIC CONCURRENCY, the SQL insert path's bounded
      // rebase-retry: a concurrent batch writer landing between our
      // head read and the manifest publish makes US the race loser —
      // the staged files are already on disk and partition-disjoint
      // from the winner's (token-uniquified names), so the retry is a
      // pure METADATA re-merge on the new head, never a re-write.
      SnapshotSourceTable.commitRetrying(root) { v =>
        SnapshotTable.commitAppendEntries(root, v,
          SnapshotTable.appendPreflight(root, v, touched), staged,
          schema, Some((app, epochId)))
        // SMALL-FILE PRESSURE: each epoch writes one file per
        // (task, pt_year) — at 1000-task × hourly-epoch cadence the
        // classic grind. `compactEvery = N` composes OPTIMIZE into
        // the sink: every Nth version triggers a compaction commit
        // (data-unchanged, right-sized files; a no-op when nothing
        // is fragmented). Downstream snapshot STREAMS see the
        // compaction as rewritten partitions and need the
        // ignoreChanges posture the source already documents;
        // batch readers see identical rows. Compaction failure
        // never fails the epoch — the data is committed, the
        // maintenance pass can re-run.
        compactEvery.filter(n => v % n == 0).foreach { _ =>
          try SnapshotTable.optimize(SparkSession.active, root, v + 1)
          catch { case _: Exception => () }
        }
      }
    } // empty epoch: nothing to publish, no version burned
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    filesOf(messages).foreach { case (_, p, _) =>
      SnapshotTable.deleteTree(p)
    }
}

private[sources] class SnapshotStreamWriterFactory(root: String,
    schemaJson: String, conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotGroupWriter(root, schemaJson, conf.value,
      partitionId, epochId)
}

/** Batch twin of the streaming factory — the row-level operations'
  * replacement write ([[SnapshotReplaceDataWrite]]) rides the same
  * executor-side writers; file names stay collision-free through the
  * per-writer token. */
private[sources] class SnapshotBatchWriterFactory(root: String,
    schemaJson: String, conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SnapshotGroupWriter(root, schemaJson, conf.value,
      partitionId, 0L)
}

/** Executor-side row writer: one parquet-mr writer per pt_year this
  * task sees, uniquified by (epoch, partition, token) so a speculative
  * or restarted task can never collide with a committed file. */
private[sources] class SnapshotGroupWriter(root: String,
    schemaJson: String, conf: Configuration, partitionId: Int,
    epochId: Long) extends DataWriter[InternalRow] {

  private val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val ptIdx = schema.fieldIndex("pt_year")
  private val msgType = SnapshotParquet.messageType(schema)
  private val token = java.util.UUID.randomUUID().toString.take(8)
  private val writers =
    mutable.Map[Int, (HPath, ParquetWriter[Group])]()
  // ReplaceData (SQL UPDATE / MERGE) feeds the writer rows PREFIXED
  // with Spark's __row_operation int column (RowDeltaUtils
  // .OPERATION_COLUMN; the plain DataWritingSparkTask hands the row
  // through unprojected when the operation declares no metadata
  // attributes) — the declared write schema stays the table schema,
  // so data fields sit at a fixed +1 offset. Streaming/append rows
  // arrive unprefixed (offset 0). Computed per row-width once.
  private var fieldOffset = -1

  // declared bloom columns ride in from the driver on the write conf
  // (SnapshotTable.bloomWriteConf) — parquet-mr writes an adaptive
  // per-row-group bloom the read side's equality predicates consult
  private val bloomCols: Seq[String] =
    Option(conf.get("graft.snapshot.bloomColumns"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
      .filter(schema.fieldNames.contains)

  private def writerFor(y: Int): ParquetWriter[Group] =
    writers.getOrElseUpdate(y, {
      val p = new HPath(new HPath(root, "data"),
        f"se${epochId}_y${y}_p$partitionId%05d_$token.parquet")
      val b0 = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(p, conf))
        .withConf(conf).withType(msgType)
        // same bounded row groups as the staged commit path — sink-
        // and rewrite-written files stay splittable at read
        .withRowGroupSize(
          graft.operators.WriteOps.SnapshotTable.rowGroupBytes(conf))
      val w = bloomCols.foldLeft(
          if (bloomCols.isEmpty) b0
          else b0.withAdaptiveBloomFilterEnabled(true))(
        (acc, c) => acc.withBloomFilterEnabled(c, true)).build()
      (p, w)
    })._2

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset = row.numFields - schema.length
      require(fieldOffset == 0 || fieldOffset == 1,
        s"row width ${row.numFields} does not match write schema " +
        s"width ${schema.length} (± the __row_operation column)")
    }
    val off = fieldOffset
    require(!row.isNullAt(ptIdx + off),
      "pt_year must not be null in a snapshot-sink row")
    val g = new SimpleGroup(msgType)
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i + off)) {
        val f = schema.fields(i)
        f.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            g.add(f.name, row.getLong(i + off))
          case IntegerType | DateType => g.add(f.name, row.getInt(i + off))
          case ShortType => g.add(f.name, row.getShort(i + off).toInt)
          case ByteType => g.add(f.name, row.getByte(i + off).toInt)
          case DoubleType => g.add(f.name, row.getDouble(i + off))
          case FloatType => g.add(f.name, row.getFloat(i + off))
          case BooleanType => g.add(f.name, row.getBoolean(i + off))
          case StringType => g.add(f.name,
            Binary.fromString(row.getUTF8String(i + off).toString))
          case dt => throw new UnsupportedOperationException(
            s"graft-snapshot sink does not write ${dt.simpleString}")
        }
      }
      i += 1
    }
    writerFor(row.getInt(ptIdx + off)).write(g)
  }

  override def commit(): WriterCommitMessage = {
    val out = writers.toSeq.sortBy(_._1).map { case (y, (p, w)) =>
      w.close()
      (y, p.toString, p.getFileSystem(conf).getFileStatus(p).getLen)
    }
    SnapshotFilesMsg(out)
  }

  override def abort(): Unit = writers.values.foreach { case (p, w) =>
    try w.close() catch { case _: Exception => () }
    try p.getFileSystem(conf).delete(p, false)
    catch { case _: Exception => () }
  }

  override def close(): Unit = ()
}
