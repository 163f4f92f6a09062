package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark

/** Deletion-vector hardening: token-uniquified sidecar paths (the
  * commit-race clobber + stale-cache fix), exact tombstoned reads, and
  * the describe() purge-debt telemetry. */
class DvHardeningSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = WriteOps.SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def doomed(keys: Long*) = {
    import spark.implicits._
    keys.map(k => (k, 1)).toDF("o_orderkey", "pt_year")
  }

  test("sidecar paths are token-uniquified; a rebuilt table never reuses one") {
    val root = Files.createTempDirectory("g_dv_token").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey", doomed(1L))
    val Seq(p1) = T.dvOf(root, 1).get.entries.map(_.dir)
    assert(p1.matches(".*/_dv/v1-[0-9a-f]{8}"),
      s"tombstone dir not token-uniquified: $p1")
    // the write_delete_vectors gate's exact shape: deleteTree + rebuild
    // at the SAME root — the new sidecar must land at a fresh path, so
    // the executor-side DvCache's path-keyed memo can never serve the
    // old table's tombstones to the new one
    T.deleteTree(root)
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey", doomed(2L))
    val Seq(p2) = T.dvOf(root, 1).get.entries.map(_.dir)
    assert(p2 != p1, "rebuilt table reused a sidecar path")
    assert(T.read(spark, root, 1).collect().map(_.getLong(0)).toSet ===
      Set(1L))
  }

  test("tombstoned reads stay exact through read and readPartitions") {
    val root = Files.createTempDirectory("g_dv_fallback").toString
    T.commit(spark, root, 0,
      frame((1L, 1, 10.0), (2L, 1, 20.0), (3L, 1, 30.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey", doomed(2L))
    val expected = Set(1L, 3L)
    assert(T.read(spark, root, 1).collect().map(_.getLong(0)).toSet ===
      expected)
    assert(T.readPartitions(spark, root, 1, Seq(1)).count() === 2)
  }

  test("describe surfaces pending purge debt; OPTIMIZE clears it") {
    val root = Files.createTempDirectory("g_dv_describe").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey", doomed(1L))
    val d1 = T.describe(root, 1)
    assert(d1("pending_dv_bytes").toLong > 0, "debt invisible")
    assert(d1("pending_dv_years") === "1")
    assert(d1("num_files").toInt === T.files(root, 1).size)
    assert(d1("commit_ts").nonEmpty)
    // OPTIMIZE purges the tombstoned partition: debt returns to zero
    T.optimize(spark, root, 2, maxFilesPerPartition = Int.MaxValue)
    val d2 = T.describe(root, 2)
    assert(d2("pending_dv_bytes") === "0")
    assert(d2("pending_dv_years") === "")
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      Set(2L))
  }
}
