package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** MERGE-ON-READ row-level operations (SupportsDelta): a table
  * declaring `TBLPROPERTIES ('rowKey' = ...)` runs SQL UPDATE /
  * MERGE / non-metadata DELETE as row DELTAS — removed rows tombstone
  * into the deletion-vector sidecar, new rows true-append, ONE commit,
  * ZERO data files rewritten (mtimes pinned). The same-commit
  * born/__below equality is what lets an UPDATE tombstone a key and
  * re-insert it without the tombstone killing the fresh row. */
class SqlUpdateMorSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_mor_cat").toString
    val name = "gmor_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  private def mkTable(cat: String, t: String): Unit = {
    spark.sql(s"CREATE TABLE $cat.$t " +
      "(k BIGINT, pt_year INT, v DOUBLE) " +
      "TBLPROPERTIES ('rowKey' = 'k')")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, 2023, 1.0), (2, 2023, 2.0), (3, 2023, 3.0)")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(4, 2024, 4.0), (5, 2024, 5.0)")
  }

  private def rows(cat: String, t: String): Set[(Long, Int, Double)] =
    spark.sql(s"SELECT k, pt_year, v FROM $cat.$t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet

  private def mtimes(paths: Seq[String]): Map[String, Long] =
    paths.map(p =>
      p -> Files.getLastModifiedTime(Paths.get(p)).toMillis).toMap

  test("UPDATE on a rowKey table is a delta commit: zero files " +
      "rewritten (mtimes pinned), tombstone + append, exact reads") {
    val (cat, base) = freshCatalog()
    mkTable(cat, "t1")
    val root = s"$base/t1"
    val preV = T.versions(root).max
    val preFiles = T.files(root, preV)
    val preTimes = mtimes(preFiles)

    spark.sql(s"UPDATE $cat.t1 SET v = v + 10.0 WHERE k IN (2, 4)")

    // one new version; every pre-existing file carried VERBATIM
    val v = T.versions(root).max
    assert(v === preV + 1)
    val nowFiles = T.files(root, v)
    assert(preFiles.forall(nowFiles.contains),
      "a merge-on-read UPDATE must not drop or rewrite parent files")
    assert(mtimes(preFiles) === preTimes,
      "a merge-on-read UPDATE rewrote parent data files")
    // the delta: appended file(s) + a pending tombstone sidecar
    assert(nowFiles.size > preFiles.size, "no fresh delta files landed")
    assert(T.dvOf(root, v).isDefined, "no tombstone sidecar committed")

    // reads: SQL head, internal read, and time travel all exact
    assert(rows(cat, "t1") === Set(
      (1L, 2023, 1.0), (2L, 2023, 12.0), (3L, 2023, 3.0),
      (4L, 2024, 14.0), (5L, 2024, 5.0)))
    assert(T.read(spark, root, v).count() === 5)
    assert(spark.sql(
      s"SELECT v FROM $cat.t1 VERSION AS OF $preV WHERE k = 2")
      .collect().head.getDouble(0) === 2.0)
  }

  test("UPDATE result matches the group-CoW twin exactly") {
    val (cat, _) = freshCatalog()
    mkTable(cat, "mor")
    spark.sql(s"CREATE TABLE $cat.cow (k BIGINT, pt_year INT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.cow SELECT * FROM $cat.mor")
    Seq("mor", "cow").foreach { t =>
      spark.sql(s"UPDATE $cat.$t SET v = v * 2.0 WHERE v >= 3.0")
    }
    assert(rows(cat, "mor") === rows(cat, "cow"))
  }

  test("MERGE: matched rows delta-update, unmatched insert; " +
      "cross-partition update moves the row") {
    val (cat, base) = freshCatalog()
    mkTable(cat, "t2")
    val root = s"$base/t2"
    val preFiles = T.files(root, T.versions(root).max)
    val preTimes = mtimes(preFiles)
    spark.sql(
      s"""MERGE INTO $cat.t2 t
          USING (SELECT * FROM VALUES
              (CAST(2 AS BIGINT), 2025, 20.0),
              (CAST(9 AS BIGINT), 2025, 90.0) AS s(k, pt_year, v)) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    // k=2 moved 2023→2025 (old row tombstoned, new row appended);
    // k=9 inserted; files untouched
    assert(mtimes(preFiles) === preTimes,
      "a merge-on-read MERGE rewrote parent data files")
    assert(rows(cat, "t2") === Set(
      (1L, 2023, 1.0), (3L, 2023, 3.0),
      (4L, 2024, 4.0), (5L, 2024, 5.0),
      (2L, 2025, 20.0), (9L, 2025, 90.0)))
  }

  test("insert-only MERGE lands on a table with pending tombstones; " +
      "a re-inserted deleted key lives, the others stay dead") {
    val (cat, base) = freshCatalog()
    mkTable(cat, "t6")
    val root = s"$base/t6"
    // k % 2 = 1 is not v1-translatable → merge-on-read tombstones in
    // both partitions
    spark.sql(s"DELETE FROM $cat.t6 WHERE k % 2 = 1")
    assert(T.dvOf(root, T.versions(root).max).map(_._3.toSet) ===
      Some(Set(2023, 2024)))
    spark.sql(
      s"""MERGE INTO $cat.t6 t
          USING (SELECT * FROM VALUES
              (CAST(1 AS BIGINT), 2023, 10.0),
              (CAST(2 AS BIGINT), 2023, 20.0),
              (CAST(7 AS BIGINT), 2024, 70.0) AS s(k, pt_year, v)) s
          ON t.k = s.k
          WHEN NOT MATCHED THEN INSERT *""")
    // k=1 was tombstoned: it re-inserts; k=2 is live: matched, kept;
    // k=7 is new; k=3 and k=5 stay deleted
    assert(rows(cat, "t6") === Set(
      (1L, 2023, 10.0), (2L, 2023, 2.0), (4L, 2024, 4.0),
      (7L, 2024, 70.0)))
    assert(T.read(spark, root, T.versions(root).max).count() === 4)
  }

  test("non-metadata DELETE tombstones instead of rewriting; " +
      "metadata-translatable DELETE keeps the CoW path") {
    val (cat, base) = freshCatalog()
    mkTable(cat, "t3")
    val root = s"$base/t3"
    val preFiles = T.files(root, T.versions(root).max)
    val preTimes = mtimes(preFiles)
    // k % 2 = 1 is not a v1-translatable filter → row-level path → MoR
    spark.sql(s"DELETE FROM $cat.t3 WHERE k % 2 = 1")
    assert(mtimes(preFiles) === preTimes,
      "a merge-on-read DELETE rewrote parent data files")
    assert(T.dvOf(root, T.versions(root).max).isDefined)
    assert(rows(cat, "t3") === Set((2L, 2023, 2.0), (4L, 2024, 4.0)))
  }

  test("OPTIMIZE after a MoR update compacts physically: tombstones " +
      "purge, updated values survive, old keys stay dead") {
    val (cat, base) = freshCatalog()
    mkTable(cat, "t4")
    val root = s"$base/t4"
    spark.sql(s"UPDATE $cat.t4 SET v = v + 100.0 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.t4 WHERE k % 5 = 0")
    assert(T.dvOf(root, T.versions(root).max).isDefined)
    T.optimize(spark, root, T.versions(root).max + 1)
    assert(T.dvOf(root, T.versions(root).max).isEmpty,
      "OPTIMIZE must purge the tombstone debt")
    assert(rows(cat, "t4") === Set(
      (1L, 2023, 101.0), (2L, 2023, 2.0), (3L, 2023, 3.0),
      (4L, 2024, 4.0)))
  }

  test("repeated updates to the same key stack correctly") {
    val (cat, _) = freshCatalog()
    mkTable(cat, "t5")
    spark.sql(s"UPDATE $cat.t5 SET v = v + 1.0 WHERE k = 3")
    spark.sql(s"UPDATE $cat.t5 SET v = v + 1.0 WHERE k = 3")
    spark.sql(s"UPDATE $cat.t5 SET v = v + 1.0 WHERE k = 3")
    assert(rows(cat, "t5").contains((3L, 2023, 6.0)))
    assert(rows(cat, "t5").size === 5)
  }
}
