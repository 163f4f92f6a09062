package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the manifest-committed snapshot table the
  * write_time_travel hash oracle can't state: data-file immutability
  * across commits, snapshot isolation of older versions, vacuum
  * removing EXACTLY the unreferenced files, and loud failure past
  * retention. */
class SnapshotTableSpec extends AnyFunSuite {

  private lazy val spark = graft.etl.TestSpark.spark

  private def mtimes(fs: Seq[String]): Map[String, Long] =
    fs.map(f => f -> Files.getLastModifiedTime(Paths.get(f)).toMillis)
      .toMap

  test("commit/read/vacuum lifecycle holds its contracts") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_snap_spec").toString
    val T = WriteOps.SnapshotTable

    def frame(rows: (Long, Int, Double)*) =
      rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")

    T.commit(spark, root, 0,
      frame((1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    val v0Files = T.files(root, 0)
    val v0Times = mtimes(v0Files)
    val v0Rows = T.read(spark, root, 0).collect().toSet

    // v1 rewrites year 2 only
    T.commit(spark, root, 1,
      frame((3L, 2, 300.0), (4L, 2, 40.0)), Seq(2))
    // v2 rewrites year 1 only
    T.commit(spark, root, 2, frame((1L, 1, 11.0)), Seq(1))

    // immutability: every v0 file still exists with its original mtime
    assert(mtimes(v0Files) == v0Times,
      "a commit rewrote an existing data file")
    // snapshot isolation: v0 still reads its original contents
    assert(T.read(spark, root, 0).collect().toSet == v0Rows)
    // carry-over: v2 still references v0's untouched year-2? no —
    // year 2 was rewritten in v1, year 1 in v2; v2 must carry v1's
    // year-2 files and nothing of v0's
    val v1Files = T.files(root, 1)
    val v2Files = T.files(root, 2)
    assert(v1Files.exists(_.contains("v0_y1")), "v1 lost the carry-over")
    assert(v2Files.exists(_.contains("v1_y2")), "v2 lost the carry-over")
    assert(!v2Files.exists(_.contains("v0_")), "v2 should reference no v0 file")

    // vacuum(retain 2): keeps v1+v2; removes exactly the files only v0
    // references (its year-2 files — year 1 files of v0 are referenced
    // by v1's carry-over... v1 carried v0_y1, so only v0's y2 files die)
    val keep = (v1Files ++ v2Files).toSet
    val doomed = v0Files.filterNot(keep.contains)
    assert(doomed.nonEmpty)
    T.vacuum(root, retain = 2)
    doomed.foreach(f => assert(!Files.exists(Paths.get(f)),
      s"vacuum left unreferenced file $f"))
    keep.foreach(f => assert(Files.exists(Paths.get(f)),
      s"vacuum deleted retained file $f"))
    // retained versions read back intact
    assert(T.read(spark, root, 1).collect().toSet ==
      Set(org.apache.spark.sql.Row(1L, 1, 10.0),
          org.apache.spark.sql.Row(2L, 1, 20.0),
          org.apache.spark.sql.Row(3L, 2, 300.0),
          org.apache.spark.sql.Row(4L, 2, 40.0)))
    assert(T.read(spark, root, 2).collect().toSet ==
      Set(org.apache.spark.sql.Row(1L, 1, 11.0),
          org.apache.spark.sql.Row(3L, 2, 300.0),
          org.apache.spark.sql.Row(4L, 2, 40.0)))
    // past retention fails loudly
    intercept[IllegalArgumentException](T.read(spark, root, 0))
    T.deleteTree(root)
  }

  test("manifest tree: a commit writes O(touched-partitions) metadata — " +
      "untouched partitions carry by POINTER, their m-files untouched") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_snap_tree").toString
    val T = WriteOps.SnapshotTable
    def frame(rows: (Long, Int, Double)*) =
      rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")

    T.commit(spark, root, 0,
      frame((1L, 1, 10.0), (2L, 2, 20.0), (3L, 3, 30.0)), Seq(1, 2, 3))
    val p0 = T.pointers(root, 0)
    assert(p0.keySet === Set(1, 2, 3))
    val mfileTimes = mtimes(p0.values.toSeq)
    def manifestCount() =
      Paths.get(root, "_manifests").toFile.list()
        .count(n => !n.endsWith(".crc"))
    val before = manifestCount()

    // v1 touches year 2 only
    T.commit(spark, root, 1, frame((2L, 2, 22.0)), Seq(2))
    val p1 = T.pointers(root, 1)
    // untouched partitions: SAME pointer (the m-file is shared, not
    // copied), and the m-file bytes were never rewritten
    assert(p1(1) === p0(1) && p1(3) === p0(3))
    assert(mtimes(Seq(p0(1), p0(3))) ===
      mtimes(p0.values.toSeq).view.filterKeys(Set(p0(1), p0(3))).toMap)
    assert(p1(2) !== p0(2), "touched partition kept its old pointer")
    // metadata written = exactly ONE fresh m-file + ONE top manifest,
    // however many partitions the table holds
    assert(manifestCount() === before + 2,
      "commit wrote more than O(touched) manifest files")
    // the pointer diff IS the change set
    assert(T.changedYears(root, 0, 1) === Seq(2))
    // untouched m-file mtimes survive verbatim
    mfileTimes.filterNot(_._1 == p0(2)).foreach { case (f, t) =>
      assert(Files.getLastModifiedTime(Paths.get(f)).toMillis === t,
        s"commit rewrote carried m-file $f")
    }
    // metadata-pruned read: only year 2's files enter the scan
    val pruned = T.readPartitions(spark, root, 1, Seq(2))
    val opened = pruned.select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSeq
    assert(opened.nonEmpty && opened.forall(_.contains("_y2_")),
      s"pruned read opened foreign files: $opened")
    assert(graft.sources.SnapshotScan.lastPlannedYears(root) ===
      Some(Seq(2)))
    assert(graft.sources.SnapshotScan.lastPlannedFiles(root) ===
      T.partitionEntries(root, 1, Seq(2)).size)
    assert(pruned.collect().toSet ===
      Set(org.apache.spark.sql.Row(2L, 2, 22.0)))
    // empty selection resolves schema with zero rows
    assert(T.readPartitions(spark, root, 1, Seq.empty).count() === 0)
    T.deleteTree(root)
  }

  test("schema evolution: new columns record in the manifest, carried " +
      "files null-fill, old versions keep their schema, type changes " +
      "refuse") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_snap_evolve").toString
    val T = WriteOps.SnapshotTable
    T.commit(spark, root, 0,
      Seq((1L, 1, 10.0), (2L, 2, 20.0))
        .toDF("o_orderkey", "pt_year", "o_totalprice"), Seq(1, 2))
    val y2Files = T.pointers(root, 0)(2)
    val y2Mtime = mtimes(Seq(y2Files))

    // v1 evolves: partition 1 rewritten WITH a new column
    T.commit(spark, root, 1,
      Seq((1L, 1, 11.0, "web"))
        .toDF("o_orderkey", "pt_year", "o_totalprice", "o_channel"),
      Seq(1))
    // schema-as-metadata: v1 records the union, v0 stays narrow
    assert(T.tableSchema(root, 1).get.fieldNames.toSeq ===
      Seq("o_orderkey", "pt_year", "o_totalprice", "o_channel"))
    assert(!T.tableSchema(root, 0).get.fieldNames.contains("o_channel"))
    // carried partition 2: file untouched, new column null-fills
    assert(mtimes(Seq(y2Files)) === y2Mtime)
    val rows = T.read(spark, root, 1)
      .select("o_orderkey", "o_channel").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows === Map(1L -> "web", 2L -> null))
    // v0 read has no ghost column and its original values
    assert(!T.read(spark, root, 0).columns.contains("o_channel"))
    assert(T.read(spark, root, 0).filter(col("o_orderkey") === 1)
      .select("o_totalprice").head.getDouble(0) === 10.0)

    // a type change on an existing column is refused loudly
    val ex = intercept[IllegalArgumentException] {
      T.commit(spark, root, 2,
        Seq((1L, 1, "oops"))
          .toDF("o_orderkey", "pt_year", "o_totalprice"), Seq(1))
    }
    assert(ex.getMessage.contains("cannot change column"))
    // ...and the refused commit left no version behind
    assert(T.versions(root) === Seq(0, 1))

    // evolution composes with branches: the staged schema rides the
    // branch ref and lands in the version manifest on publish
    T.stageCommit(spark, root, "wider",
      Seq((9L, 2, 90.0, "bulk", 7L))
        .toDF("o_orderkey", "pt_year", "o_totalprice", "o_channel",
          "o_batch"), Seq(2))
    assert(T.readBranch(spark, root, "wider")
      .columns.contains("o_batch"))
    val v2 = T.publishBranch(root, "wider")
    assert(T.tableSchema(root, v2).get.fieldNames.contains("o_batch"))
    assert(T.read(spark, root, v2).filter(col("o_orderkey") === 1)
      .select("o_batch").head.isNullAt(0))
    T.deleteTree(root)
  }

  test("optimistic concurrency: conflicting and orphan commits fail loudly") {
    val root = Files.createTempDirectory("g_snap_occ").toString
    val T = WriteOps.SnapshotTable
    import spark.implicits._
    def frame(rows: (Long, Int, Double)*) =
      rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")

    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val head = T.read(spark, root, 0).collect().toSet

    // a second writer publishing the same version must fail — and must
    // NOT disturb the committed version's content
    intercept[IllegalArgumentException](
      T.commit(spark, root, 0, frame((9L, 1, 99.0)), Seq(1)))
    assert(T.read(spark, root, 0).collect().toSet === head,
      "the losing writer disturbed the committed version")

    // history is linear: skipping a parent is rejected
    intercept[IllegalArgumentException](
      T.commit(spark, root, 5, frame((2L, 1, 20.0)), Seq(1)))

    // the rebased retry (next version off the current head) succeeds
    T.commit(spark, root, 1, frame((9L, 1, 99.0)), Seq(1))
    assert(T.read(spark, root, 1).collect().toSet ===
      Set(org.apache.spark.sql.Row(9L, 1, 99.0)))
    T.deleteTree(root)
  }

  test("commit races: every commit kind refuses an already-committed " +
      "version and a missing parent") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_snap_occ_kinds").toString
    val T = WriteOps.SnapshotTable
    def frame(rows: (Long, Int, Double)*) =
      rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")

    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    T.commit(spark, root, 1, frame((2L, 1, 20.0)), Seq(1))
    val head = T.read(spark, root, 1).collect().toSet
    val kinds: Seq[(String, Int => Unit)] = Seq(
      "commit" -> (v =>
        T.commit(spark, root, v, frame((3L, 1, 30.0)), Seq(1))),
      "commitReplaceEntries" -> (v =>
        T.commitReplaceEntries(root, v, Seq.empty, Seq(1))),
      "commitAppend" -> (v =>
        T.commitAppend(spark, root, v, frame((3L, 1, 30.0)))),
      "commitDelete" -> (v =>
        T.commitDelete(spark, root, v, "o_orderkey",
          Seq((2L, 1)).toDF("o_orderkey", "pt_year"))),
      "commitDelta" -> (v =>
        T.commitDelta(root, v, "o_orderkey", Seq.empty, Seq.empty,
          frame().schema)),
      "restore" -> (v => T.restore(root, v, 0)))
    kinds.foreach { case (kind, commitAt) =>
      // the race loser: the message is what commitRetrying rebases on
      val lost = intercept[IllegalArgumentException](commitAt(1))
      assert(lost.getMessage.contains("conflict: version 1 is already " +
        "committed"), s"$kind: ${lost.getMessage}")
      val orphan = intercept[IllegalArgumentException](commitAt(5))
      assert(orphan.getMessage.contains("parent v4 was never committed"),
        s"$kind: ${orphan.getMessage}")
    }
    assert(T.versions(root) === Seq(0, 1))
    assert(T.read(spark, root, 1).collect().toSet === head,
      "a refused commit disturbed the head")
    T.deleteTree(root)
  }

  test("CONCURRENT commit race: of N simultaneous writers publishing " +
      "the same version, exactly one wins and history stays sane") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_snap_race").toString
    val T = WriteOps.SnapshotTable
    T.commit(spark, root, 0,
      Seq((0L, 1, 0.0)).toDF("o_orderkey", "pt_year", "o_totalprice"),
      Seq(1))

    import java.util.concurrent.{CountDownLatch, Executors}
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val gate = new CountDownLatch(1)
    val outcomes = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[String, Int]] {
        def call(): Either[String, Int] = {
          gate.await()
          try {
            WriteOps.SnapshotTable.commit(spark, root, 1,
              Seq((100L + i, 1, i.toDouble))
                .toDF("o_orderkey", "pt_year", "o_totalprice"), Seq(1))
            Right(i)
          } catch { case e: Exception => Left(e.getClass.getSimpleName) }
        }
      })
    }
    gate.countDown()
    val results = outcomes.map(_.get())
    pool.shutdown()

    val winners = results.collect { case Right(i) => i }
    assert(winners.length === 1,
      s"expected exactly one winning writer, got $results")
    // the table is intact: v1 is the winner's content, losers' staged
    // bytes never replaced anything committed
    val v1 = T.read(spark, root, 1).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(v1 === Set((100L + winners.head, winners.head.toDouble)))
    assert(T.versions(root) === Seq(0, 1))
    // v0 untouched by the melee
    assert(T.read(spark, root, 0).collect()
      .map(_.getLong(0)).toSet === Set(0L))
    T.deleteTree(root)
  }
}
