package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.SnapshotTable

/** The native streaming sink (`writeStream.format("graft-snapshot")`):
  * per-epoch txn-recorded append versions, executor-side parquet
  * writers routed per pt_year, exactly-once on epoch replay (orphan
  * files reclaimed), restart lands nothing new, pending-DV partitions
  * refuse, and the written files round-trip through both read paths
  * (`SnapshotTable.read` and the connector scan). */
class NativeSinkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def initTable(): String = {
    val root = Files.createTempDirectory("g_natsink").toString
    T.commit(spark, root, 0, frame().filter(_ => false), Seq.empty)
    root
  }

  private def drainInto(root: String, srcDir: String,
      ckpt: String): Unit = {
    val src = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = src.writeStream.format("graft-snapshot")
      .option("root", root)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000); q.stop()
  }

  test("each epoch is one txn-recorded append version; restart adds none") {
    val root = initTable()
    val srcDir = Files.createTempDirectory("g_natsink_src").toString
    val ckpt = Files.createTempDirectory("g_natsink_ck").toString
    frame((1L, 2023, 1.0), (2L, 2024, 2.0))
      .write.mode("overwrite").parquet(srcDir)
    drainInto(root, srcDir, ckpt)
    assert(T.versions(root) === Seq(0, 1))
    assert(T.txnOf(root, 1).exists(_._1.startsWith("stream-")))
    // rows landed, routed to their year partitions
    assert(T.read(spark, root, 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSet ===
      Set(1L -> 2023, 2L -> 2024))
    assert(T.pointers(root, 1).keySet === Set(2023, 2024))
    // restart on the same checkpoint: empty epoch, no version burned
    drainInto(root, srcDir, ckpt)
    assert(T.versions(root) === Seq(0, 1), "restart re-landed the epoch")
    // the connector's own reader serves the sink's files too
    assert(spark.read.format("graft-snapshot").option("root", root)
      .load().count() === 2)
  }

  test("a replayed epoch commits once; the replay's files are reclaimed") {
    val root = initTable()
    val srcDir = Files.createTempDirectory("g_natsink_src2").toString
    val ckpt = Files.createTempDirectory("g_natsink_ck2").toString
    frame((1L, 2023, 1.0)).write.mode("overwrite").parquet(srcDir)
    drainInto(root, srcDir, ckpt)
    val head = T.versions(root).max
    val query = T.txnOf(root, head).get._1.stripPrefix("stream-")
    // simulate the at-least-once replay: drive the sink's commit
    // directly with the SAME epochId and freshly-staged orphan files
    val job = SnapshotWriteJob(spark, root, T.tableSchema(root, head).get)
    val w = new SnapshotStreamingWrite(root, job, query)
    val writer = job.writer(0, "se0")
    writer.write(org.apache.spark.sql.catalyst.InternalRow(
      7L, 2023, 7.0))
    val msg = writer.commit().asInstanceOf[SnapshotFilesMsg]
    assert(msg.files.nonEmpty)
    w.commit(0L, Array(msg)) // epoch 0 already committed by the drain
    assert(T.versions(root).max === head, "replayed epoch re-committed")
    msg.files.foreach { case (_, e) =>
      assert(!Files.exists(java.nio.file.Paths.get(e.path)),
        "replay orphan files not reclaimed")
    }
    assert(T.read(spark, root, head).count() === 1)
  }

  test("exactly-once survives vacuum expiring the txn-bearing version") {
    val root = initTable()
    val srcDir = Files.createTempDirectory("g_natsink_src3").toString
    val ckpt = Files.createTempDirectory("g_natsink_ck3").toString
    frame((1L, 2023, 1.0)).write.mode("overwrite").parquet(srcDir)
    drainInto(root, srcDir, ckpt)
    val epochV = T.versions(root).max
    val app = T.txnOf(root, epochV).get._1
    // batch writers advance the table past retention...
    (1 to 3).foreach { i =>
      T.commitAppend(spark, root, epochV + i, frame((10L + i, 2023, 1.0)))
    }
    T.vacuum(root, retain = 2)
    assert(!T.versions(root).contains(epochV),
      "vacuum should have expired the txn-bearing version")
    assert(T.txnOf(root, T.versions(root).max).isEmpty)
    // ...yet the durable _txns marker still recognizes the epoch, so a
    // crash-replay of it is a no-op instead of a double-commit
    assert(T.lastTxn(root, app).contains(0L),
      "txn marker lost with the vacuumed manifest — exactly-once broken")
    val head = T.versions(root).max
    val job = SnapshotWriteJob(spark, root, T.tableSchema(root, head).get)
    val w = new SnapshotStreamingWrite(root, job, app.stripPrefix("stream-"))
    val writer = job.writer(0, "se0")
    writer.write(org.apache.spark.sql.catalyst.InternalRow(9L, 2023, 9.0))
    val msg = writer.commit().asInstanceOf[SnapshotFilesMsg]
    w.commit(0L, Array(msg))
    assert(T.versions(root).max === head,
      "replayed epoch re-committed after vacuum")
  }

  test("a sink epoch losing a commit race rebases instead of failing") {
    val root = initTable()
    val job = SnapshotWriteJob(spark, root, T.tableSchema(root, 0).get)
    // two writers (distinct queries) race their epoch commits at the
    // same head: the loser must REBASE onto the winner's head and land
    // as the next version — never fail the stream, never clobber
    def stage(key: Long): SnapshotFilesMsg = {
      val writer = job.writer(key.toInt, "se0")
      writer.write(org.apache.spark.sql.catalyst.InternalRow(
        key, 2023, key.toDouble))
      writer.commit().asInstanceOf[SnapshotFilesMsg]
    }
    val msgs = Seq(1L, 2L).map(k => k -> stage(k))
    val threads = msgs.map { case (k, m) =>
      new Thread(() => new SnapshotStreamingWrite(root, job,
        s"q$k").commit(0L, Array(m)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(T.versions(root) === Seq(0, 1, 2),
      "race loser failed to rebase onto the winner's head")
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L), "a racing epoch's rows were lost")
  }

  test("compactEvery composes OPTIMIZE into the sink cadence") {
    val root = initTable()
    val srcDir = Files.createTempDirectory("g_natsink_src4").toString
    val ckpt = Files.createTempDirectory("g_natsink_ck4").toString
    // many input files → many sink tasks → several files per pt_year
    frame((1 to 8).map(i => (i.toLong, 2023, i * 1.0)): _*)
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val src = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = src.writeStream.format("graft-snapshot")
      .option("root", root)
      .option("checkpointLocation", ckpt)
      .option("compactEvery", "1")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000); q.stop()
    // v1 = the epoch (multi-file), v2 = its compaction commit
    assert(T.versions(root) === Seq(0, 1, 2),
      "compactEvery=1 should add one OPTIMIZE commit after the epoch")
    assert(T.files(root, 1).size > 1, "fixture needs a fragmented epoch")
    assert(T.files(root, 2).size === 1,
      s"compaction left ${T.files(root, 2).size} files")
    // data-unchanged: identical rows through the compaction, and the
    // file-count telemetry is DESCRIBE-visible
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      (1L to 8L).toSet)
    assert(T.describe(root, 2)("num_files") === "1")
  }

  test("abort reclaims staged files; aborted epochs never publish") {
    val root = initTable()
    val job = SnapshotWriteJob(spark, root, T.tableSchema(root, 0).get)
    val writer = job.writer(0, "se5")
    writer.write(org.apache.spark.sql.catalyst.InternalRow(
      9L, 2023, 9.0))
    val msg = writer.commit().asInstanceOf[SnapshotFilesMsg]
    val w = new SnapshotStreamingWrite(root, job, "qabort")
    w.abort(5L, Array(msg))
    msg.files.foreach { case (_, e) =>
      assert(!Files.exists(java.nio.file.Paths.get(e.path)))
    }
    assert(T.versions(root) === Seq(0))
  }

  test("streaming into a tombstoned partition fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_natsink_dv").toString
    T.commit(spark, root, 0, frame((1L, 2023, 1.0)), Seq(2023))
    T.commitDelete(spark, root, 1, "o_orderkey",
      Seq((1L, 2023)).toDF("o_orderkey", "pt_year"))
    val srcDir = Files.createTempDirectory("g_natsink_dvs").toString
    val ckpt = Files.createTempDirectory("g_natsink_dvc").toString
    frame((5L, 2023, 5.0)).write.mode("overwrite").parquet(srcDir)
    val e = intercept[Exception](drainInto(root, srcDir, ckpt))
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(chain.contains("tombstones"), s"unexpected failure: $chain")
    assert(T.versions(root) === Seq(0, 1), "failed epoch published")
  }

  test("string/date/timestamp columns round-trip through the sink") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_natsink_typ").toString
    val typed = Seq((1L, 2023, "a", java.sql.Date.valueOf("2023-05-01"),
        java.sql.Timestamp.valueOf("2023-05-01 10:30:00")))
      .toDF("k", "pt_year", "s", "d", "ts")
    T.commit(spark, root, 0, typed.filter(_ => false), Seq.empty)
    val srcDir = Files.createTempDirectory("g_natsink_typs").toString
    typed.write.mode("overwrite").parquet(srcDir)
    drainInto(root, srcDir,
      Files.createTempDirectory("g_natsink_typc").toString)
    val got = T.read(spark, root, 1).collect().head
    assert(got.getLong(0) === 1L)
    assert(got.getString(2) === "a")
    assert(got.getDate(3) === java.sql.Date.valueOf("2023-05-01"))
    assert(got.getTimestamp(4) ===
      java.sql.Timestamp.valueOf("2023-05-01 10:30:00"))
  }

  test("a DECIMAL column round-trips through the sink") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_natsink_dec").toString
    val typed = Seq((1L, 2023, "12.34"), (2L, 2024, "-0.05"))
      .toDF("k", "pt_year", "p")
      .withColumn("p", $"p".cast("decimal(12,2)"))
    T.commit(spark, root, 0, typed.filter(_ => false), Seq.empty)
    val srcDir = Files.createTempDirectory("g_natsink_decs").toString
    typed.write.mode("overwrite").parquet(srcDir)
    drainInto(root, srcDir,
      Files.createTempDirectory("g_natsink_decc").toString)
    assert(T.versions(root) === Seq(0, 1))
    assert(T.read(spark, root, 1).collect()
      .map(r => r.getLong(0) -> r.getDecimal(2)).toMap ===
      Map(1L -> new java.math.BigDecimal("12.34"),
        2L -> new java.math.BigDecimal("-0.05")))
  }
}
