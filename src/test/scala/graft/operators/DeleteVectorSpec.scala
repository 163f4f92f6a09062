package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark

/** Merge-on-read deletion vectors — the contracts the
  * write_delete_vectors hash oracle can't state: a delete commit moves
  * ZERO data files (identical list, identical mtimes), every read path
  * applies the tombstones, deletes accumulate, a partition rewrite
  * physically purges and drops its tombstones from the carried
  * sidecar, the change feed emits the deletions, branches refuse to
  * stage over tombstoned partitions (and carry the sidecar verbatim
  * elsewhere), and vacuum reference-counts sidecars like m-files. */
class DeleteVectorSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = WriteOps.SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def mtimes(fs: Seq[String]): Map[String, Long] =
    fs.map(f => f -> Files.getLastModifiedTime(Paths.get(f)).toMillis)
      .toMap

  test("a delete commit is metadata + sidecar only; reads apply it everywhere") {
    val root = Files.createTempDirectory("g_dv").toString
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 1, 30.0), (4L, 2, 40.0)), Seq(1, 2))
    val v0Files = T.files(root, 0)
    val v0Times = mtimes(v0Files)

    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((2L, 1, 0.0)).select("o_orderkey", "pt_year"))

    // zero data movement: identical file list, identical bytes
    assert(T.files(root, 1) === v0Files)
    assert(mtimes(v0Files) === v0Times)
    assert(T.dvOf(root, 1).exists(_.years === Seq(1)))

    // every read path applies the tombstones
    assert(T.read(spark, root, 1).count() === 3)
    assert(!T.read(spark, root, 1).collect().exists(_.getLong(0) == 2L))
    assert(T.readPartitions(spark, root, 1, Seq(1)).count() === 2)
    assert(T.readWhere(spark, root, 1,
      Seq(("o_orderkey", 1L, 3L))).count() === 2)
    // time travel: v0 still shows the row
    assert(T.read(spark, root, 0).count() === 4)
  }

  test("deletes accumulate; a rewrite purges physically and drops its tombstones") {
    val root = Files.createTempDirectory("g_dv_acc").toString
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0), (4L, 2, 40.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((1L, 1, 0.0)).select("o_orderkey", "pt_year"))
    T.commitDelete(spark, root, 2, "o_orderkey",
      frame((3L, 2, 0.0)).select("o_orderkey", "pt_year"))
    // cumulative: both tombstones pending, both years recorded
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      Set(2L, 4L))
    assert(T.dvOf(root, 2).exists(_.years === Seq(1, 2)))

    // rewrite partition 1 from the DV-applied read: physical purge
    T.commit(spark, root, 3,
      T.read(spark, root, 2).filter(col("pt_year") === 1), Seq(1))
    // partition 1's tombstone dropped; partition 2's still pending
    assert(T.dvOf(root, 3).exists(_.years === Seq(2)))
    assert(T.read(spark, root, 3).collect().map(_.getLong(0)).toSet ===
      Set(2L, 4L))
    // the rewritten files physically lack the deleted row
    val raw1 = spark.read.parquet(
      T.partitionEntries(root, 3, Seq(1)).map(_._1): _*)
    assert(raw1.collect().map(_.getLong(0)).toSet === Set(2L))

    // rewriting partition 2 empties the vector entirely
    T.commit(spark, root, 4,
      T.read(spark, root, 3).filter(col("pt_year") === 2), Seq(2))
    assert(T.dvOf(root, 4).isEmpty)
  }

  test("a rewrite supersedes pending tombstones: re-introduced keys live") {
    val root = Files.createTempDirectory("g_dv_super").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((2L, 1, 0.0)).select("o_orderkey", "pt_year"))
    // the rewrite deliberately re-introduces key 2
    T.commit(spark, root, 2, frame((1L, 1, 10.0), (2L, 1, 99.0)), Seq(1))
    assert(T.read(spark, root, 2).filter(col("o_orderkey") === 2L)
      .head.getDouble(2) === 99.0)
    assert(T.dvOf(root, 2).isEmpty)
  }

  test("the change feed emits deletions across a DV commit") {
    val root = Files.createTempDirectory("g_dv_cdf").toString
    val base = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("pt_year"))
    val years = base.select("pt_year").distinct()
      .collect().map(_.getInt(0)).sorted
    T.commit(spark, root, 0, base, years)
    val doomed = T.read(spark, root, 0)
      .filter(col("pt_year") === 1996 && col("o_orderkey") % 10 === 3)
      .select("o_orderkey", "pt_year")
    val nDoomed = doomed.count()
    assert(nDoomed > 0, "fixture produced no tombstones — test is vacuous")
    T.commitDelete(spark, root, 1, "o_orderkey", doomed)
    val feed = WriteOps.tableChanges(spark, root, 0, 1)
    assert(feed.filter(col("change_type") === "delete").count() === nDoomed)
    assert(feed.filter(col("change_type") =!= "delete").count() === 0)
  }

  test("branches refuse tombstoned partitions and carry the sidecar elsewhere") {
    val root = Files.createTempDirectory("g_dv_branch").toString
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((1L, 1, 0.0)).select("o_orderkey", "pt_year"))
    // staging over the tombstoned partition is refused loudly
    val e = intercept[IllegalArgumentException] {
      T.stageCommit(spark, root, "bad", frame((9L, 1, 9.0)), Seq(1))
    }
    assert(e.getMessage.contains("tombstone"))
    // staging elsewhere carries the vector; the publish keeps applying it
    T.stageCommit(spark, root, "ok", frame((5L, 2, 50.0)), Seq(2))
    val v = T.publishBranch(root, "ok")
    // key 1 stays deleted (carried vector), and the branch's rewrite
    // replaced partition 2 ({3}) with {5}
    assert(T.read(spark, root, v).collect().map(_.getLong(0)).toSet ===
      Set(2L, 5L))
    assert(T.dvOf(root, v).exists(_.years === Seq(1)))
  }

  test("vacuum reference-counts deletion-vector sidecars") {
    val root = Files.createTempDirectory("g_dv_vac").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((1L, 1, 0.0)).select("o_orderkey", "pt_year"))
    val dvPath = T.dvOf(root, 1).get.entries.head.dir
    // v2 carries the same sidecar (untouched partition commit)
    T.commit(spark, root, 2, frame((9L, 2, 90.0), (2L, 2, 20.0)), Seq(2))
    assert(T.dvOf(root, 2).exists(_.entries.map(_.dir) === Seq(dvPath)))
    // retain 2 (v1, v2): the sidecar is still referenced — survives
    T.vacuum(root, retain = 2)
    assert(Files.exists(Paths.get(dvPath)))
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      Set(2L, 9L))
    // rewrite partition 1 (purges), then retain only the head: the
    // sidecar is referenced by no retained version — reclaimed
    T.commit(spark, root, 3,
      T.read(spark, root, 2).filter(col("pt_year") === 1), Seq(1))
    T.vacuum(root, retain = 1)
    assert(!Files.exists(Paths.get(dvPath)))
  }

  test("a legacy single-sidecar #dv line reads the same through a delta " +
      "commit and a rewrite; keys re-inserted after it stay alive") {
    import spark.implicits._
    def keys(root: String, v: Int) =
      T.read(spark, root, v).collect().map(_.getLong(0)).toSet
    // replace version v's deletion vector with the pre-list format: one
    // sidecar dir on one `#dv=<dir>\t<key>\t<years>` line
    def legacy(root: String, v: Int, rows: org.apache.spark.sql.DataFrame) = {
      val dir = Paths.get(root, "_dv", "legacy").toString
      rows.coalesce(1).write.parquet(dir)
      val m = Paths.get(root, "_manifests", s"v$v.txt")
      val ls = new String(Files.readAllBytes(m), "UTF-8").split('\n')
        .filterNot(_.startsWith("#dv")) :+ s"#dv=$dir\to_orderkey\t1,2"
      Files.write(m, ls.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.deleteIfExists(m.resolveSibling(s".v$v.txt.crc"))
      assert(T.dvOf(root, v).map(_.entries.map(_.below)) ===
        Some(Seq(Long.MaxValue)))
    }
    Seq(true, false).foreach { withBelow =>
      val root = Files.createTempDirectory("g_dv_legacy").toString
      T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0),
        (3L, 1, 30.0), (4L, 2, 40.0), (5L, 2, 50.0)), Seq(1, 2))
      T.commitDelete(spark, root, 1, "o_orderkey",
        frame((1L, 1, 0.0), (4L, 2, 0.0)).select("o_orderkey", "pt_year"))
      val ts1 = T.commitTs(root, 1).get
      // with births recorded the tombstoned key 1 may come back
      if (withBelow)
        T.commitAppend(spark, root, 2, frame((1L, 1, 11.0)),
          overTombstones = true)
      val v = T.versions(root).max
      val expected = keys(root, v)
      assert(expected === (if (withBelow) Set(1L, 2L, 3L, 5L)
                           else Set(2L, 3L, 5L)))
      legacy(root, v,
        if (withBelow) Seq((1L, 1, ts1), (4L, 2, ts1))
          .toDF("o_orderkey", "pt_year", "__below")
        else Seq((1L, 1), (4L, 2)).toDF("o_orderkey", "pt_year"))
      assert(keys(root, v) === expected)
      // one more delta commit: the legacy entry carries, stamped
      T.commitDelete(spark, root, v + 1, "o_orderkey",
        frame((2L, 1, 0.0)).select("o_orderkey", "pt_year"))
      assert(T.dvOf(root, v + 1).get.entries.size === 2)
      assert(T.dvOf(root, v + 1).get.entries.forall(_.below < Long.MaxValue))
      assert(keys(root, v + 1) === expected - 2L)
      // a rewrite of tombstoned year 2 drops it from the legacy entry
      T.commit(spark, root, v + 2,
        T.read(spark, root, v + 1).filter(col("pt_year") === 2), Seq(2))
      assert(T.dvOf(root, v + 2).map(_.years) === Some(Seq(1)))
      assert(keys(root, v + 2) === expected - 2L)
      T.deleteTree(root)
    }
  }

  test("vacuum keeps tombstone dirs a retained version lists, reclaims " +
      "expired-only ones, and unreferenced ones past the horizon") {
    val root = Files.createTempDirectory("g_dv_vac_list").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0),
      (3L, 2, 30.0), (4L, 2, 40.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((1L, 1, 0.0)).select("o_orderkey", "pt_year"))
    T.commitDelete(spark, root, 2, "o_orderkey",
      frame((3L, 2, 0.0)).select("o_orderkey", "pt_year"))
    val Seq(d1, d2) = T.dvOf(root, 2).get.entries.map(_.dir)
    // v3 rewrites year 1: d1 drops out of the list, d2 carries
    T.commit(spark, root, 3,
      T.read(spark, root, 2).filter(col("pt_year") === 1), Seq(1))
    assert(T.dvOf(root, 3).get.entries.map(_.dir) === Seq(d2))
    val orphan = Paths.get(root, "_dv", "v9-loser00")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("t00000_x.parquet"), "junk".getBytes("UTF-8"))
    T.vacuum(root, retain = 1)
    assert(!Files.exists(Paths.get(d1)), "expired-only dir kept")
    assert(Files.exists(Paths.get(d2)), "retained version's dir reclaimed")
    assert(Files.exists(orphan), "a young orphan was reclaimed")
    val saved = T.dvOrphanHorizonMs
    try {
      T.dvOrphanHorizonMs = -1L
      T.vacuum(root, retain = 1)
      assert(!Files.exists(orphan), "aged orphan dir not reclaimed")
      assert(Files.exists(Paths.get(d2)))
    } finally T.dvOrphanHorizonMs = saved
    assert(T.read(spark, root, 3).collect().map(_.getLong(0)).toSet ===
      Set(2L, 4L))
  }
}
