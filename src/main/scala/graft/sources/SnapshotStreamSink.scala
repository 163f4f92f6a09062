package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.operators.WriteOps.SnapshotTable

/** NATIVE STREAMING SINK for the snapshot table — the write half that
  * makes `graft-snapshot` a full DSv2 connector: `df.writeStream
  * .format("graft-snapshot").option("root", ...)` lands every epoch as
  * one APPEND version with the (queryId, epochId) txn recorded in the
  * manifest, exactly Delta's streaming-sink discipline:
  *
  *  - rows are written EXECUTOR-SIDE by [[SnapshotDataWriter]]: each
  *    task keeps one Spark parquet writer per pt_year it encounters,
  *    and only finished manifest entries (path, bytes, column stats,
  *    rows) return to the driver as commit messages — at a 1000-task
  *    epoch the driver sees 1000 small messages, never rows, and opens
  *    no file;
  *  - the epoch commit is [[SnapshotTable.commitAppendEntries]] — the
  *    TRUE-APPEND manifest merge (parent entries copied as metadata
  *    lines, fresh files appended), the writers' stats recorded so
  *    data skipping covers streamed data too;
  *  - EXACTLY-ONCE: a replayed epochId (at-least-once re-delivery
  *    after a crash between sink commit and checkpoint write) is
  *    recognized via the manifest txn line BEFORE publishing, and the
  *    replay's freshly written files are deleted as orphans; an ABORTED
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
private[sources] class SnapshotStreamingWrite(root: String,
    job: SnapshotWriteJob, queryId: String,
    compactEvery: Option[Int] = None)
    extends StreamingWrite {

  // the streaming QUERY id is stable across restarts (it lives in the
  // checkpoint metadata), so (app, epochId) identifies a delivery
  private def app = s"stream-$queryId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new SnapshotStreamWriterFactory(job)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = SnapshotFilesMsg.filesOf(messages)
    if (SnapshotTable.lastTxn(root, app).exists(_ >= epochId)) {
      // replayed epoch (crash between sink commit and checkpoint
      // write): the re-written files are orphans — reclaim them now
      SnapshotFilesMsg.delete(files)
    } else if (files.nonEmpty) {
      val staged = SnapshotFilesMsg.byYear(files)
      val touched = staged.map(_._1)
      // OPTIMISTIC CONCURRENCY, the SQL insert path's bounded
      // rebase-retry: a concurrent batch writer landing between our
      // head read and the manifest publish makes US the race loser —
      // the written files are already on disk and name-disjoint from
      // the winner's (token-uniquified names), so the retry is a pure
      // METADATA re-merge on the new head, never a re-write.
      SnapshotSourceTable.commitRetrying(root) { v =>
        SnapshotTable.commitAppendEntries(root, v,
          SnapshotTable.appendPreflight(root, v, touched), staged,
          job.schema, Some((app, epochId)))
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
    SnapshotFilesMsg.delete(SnapshotFilesMsg.filesOf(messages))
}

private[sources] class SnapshotStreamWriterFactory(job: SnapshotWriteJob)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    job.writer(partitionId, s"se$epochId")
}
