package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.SnapshotTable

/** SQL DELETE (SupportsDelete, file-granular copy-on-write) + the
  * DESCRIBE-visible table properties: only matching partitions
  * rewrite (untouched files mtime-pinned), stats-excluded files
  * inside a touched partition carry verbatim, NULL-evaluating rows
  * survive (three-valued logic), time travel serves the pre-delete
  * state, untranslatable predicates fall back to the group-based
  * row-level rewrite, zero-match deletes burn no version, WHERE-less
  * DELETE truncates, and properties() surfaces purge-debt telemetry. */
class SqlDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_sqldel_cat").toString
    val name = "gdel_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  test("DELETE rewrites only matching partitions; time travel intact") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t1"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    val p2Files = T.files(root, 0).filter(_.contains("_y2_"))
    val p2Times = p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    spark.sql(s"DELETE FROM $cat.t1 WHERE pt_year = 1 AND o_orderkey = 1")
    assert(T.versions(root) === Seq(0, 1))
    assert(spark.sql(s"SELECT o_orderkey FROM $cat.t1").collect()
      .map(_.getLong(0)).toSet === Set(2L, 3L))
    // partition 2 carried by pointer: same files, untouched bytes
    assert(p2Files.forall(T.files(root, 1).contains))
    assert(p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      p2Times, "DELETE rewrote an unmatched partition")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t1 VERSION AS OF 0")
      .collect().head.getLong(0) === 3)
  }

  test("NULL-evaluating rows survive DELETE (three-valued logic)") {
    // SQL DELETE removes only rows where the predicate is TRUE: a row
    // whose o_custkey is NULL makes `o_custkey <= 500` evaluate NULL —
    // it is NOT matched and MUST be kept. A naive filter(!pred)
    // survivor set drops it (NOT NULL = NULL), silently deleting data.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (cat, base) = freshCatalog()
    val root = s"$base/t_null"
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = true),
      StructField("pt_year", IntegerType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 100L, 1996),      // matches: deleted
        Row(2L, null, 1996),      // NULL predicate: must survive
        Row(3L, 900L, 1996),      // no match: survives
        Row(4L, null, 1995))),    // untouched partition
      schema)
    T.commit(spark, root, 0, df, Seq(1995, 1996))
    spark.sql(
      s"DELETE FROM $cat.t_null WHERE pt_year = 1996 AND o_custkey <= 500")
    val kept = spark.sql(s"SELECT o_orderkey FROM $cat.t_null")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L),
      "DELETE dropped NULL-evaluating rows — three-valued-logic bug")
  }

  test("an untranslatable predicate falls back to the group-based " +
      "row-level rewrite (r13 refused; r14 rewrites)") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t2"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (3L, 1, 30.0)), Seq(1))
    // `% 10 = 3` translates to no source Filter, so the metadata-only
    // path refuses — SupportsRowLevelOperations now catches it as a
    // partition copy-on-write ReplaceData instead of failing the query
    spark.sql(s"DELETE FROM $cat.t2 WHERE o_orderkey % 10 = 3")
    assert(T.versions(root) === Seq(0, 1))
    assert(spark.sql(s"SELECT o_orderkey FROM $cat.t2").collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t2 VERSION AS OF 0")
      .collect().head.getLong(0) === 2)
  }

  test("FILE-granular pruning: stats-excluded files in a touched " +
      "partition carry verbatim (mtimes pinned), only matching files " +
      "rewrite") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t_fg"
    // partition 1 holds TWO files with disjoint o_orderkey ranges:
    // v0 stages keys 1-3 (file A), the append stages 100-102 (file B)
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 1, 30.0)).coalesce(1), Seq(1))
    T.commitAppend(spark, root, 1, frame(
      (100L, 1, 1.0), (101L, 1, 2.0), (102L, 1, 3.0)).coalesce(1))
    val v1Files = T.files(root, 1)
    assert(v1Files.size === 2, "fixture needs two files in one partition")
    val fileB = v1Files.filterNot(T.files(root, 0).contains) // appended
    assert(fileB.size === 1)
    val bTime = Files.getLastModifiedTime(Paths.get(fileB.head)).toMillis
    // the predicate's stats range [_, 10] excludes file B ([100, 102])
    spark.sql(s"DELETE FROM $cat.t_fg WHERE o_orderkey <= 10 " +
      "AND o_totalprice >= 15.0")
    assert(spark.sql(s"SELECT o_orderkey FROM $cat.t_fg").collect()
      .map(_.getLong(0)).toSet === Set(1L, 100L, 101L, 102L))
    // file B carried by ENTRY: same path in the head manifest, bytes
    // untouched — the rewrite opened only file A
    val headFiles = T.files(root, T.versions(root).max)
    assert(headFiles.contains(fileB.head),
      "stats-excluded file was rewritten instead of carried")
    assert(Files.getLastModifiedTime(Paths.get(fileB.head)).toMillis
      === bTime, "carried file's bytes were touched")
    // and time travel still serves the pre-delete state
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t_fg VERSION AS OF 1")
      .collect().head.getLong(0) === 6)
  }

  test("zero-match DELETE burns no version; WHERE-less DELETE truncates") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t3"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (3L, 2, 30.0)), Seq(1, 2))
    spark.sql(s"DELETE FROM $cat.t3 WHERE o_orderkey = 999")
    assert(T.versions(root) === Seq(0), "no-op delete burned a version")
    spark.sql(s"DELETE FROM $cat.t3")
    assert(T.versions(root) === Seq(0, 1))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t3")
      .collect().head.getLong(0) === 0)
    // history intact even across the truncate
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t3 VERSION AS OF 0")
      .collect().head.getLong(0) === 2)
  }

  test("DELETE physically purges pending merge-on-read tombstones") {
    import spark.implicits._
    val (cat, base) = freshCatalog()
    val root = s"$base/t4"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey",
      Seq((1L, 1)).toDF("o_orderkey", "pt_year"))
    // the SQL delete's rewrite reads DV-applied rows: key 1 stays
    // dead, key 2 goes, and the carried sidecar drops the partition
    spark.sql(s"DELETE FROM $cat.t4 WHERE o_orderkey = 2")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t4")
      .collect().head.getLong(0) === 0)
    assert(T.dvOf(root, 2).isEmpty, "rewrite did not purge tombstones")
  }

  test("a pt_year conjunct bounds the touch-scan candidates in metadata") {
    import org.apache.spark.sql.sources._
    assert(SnapshotFilters.yearBound(
      EqualTo("pt_year", Integer.valueOf(1996))) === Some(Set(1996)))
    assert(SnapshotFilters.yearBound(In("pt_year",
      Array[Any](Integer.valueOf(1), Integer.valueOf(2)))) ===
      Some(Set(1, 2)))
    // non-partition columns and non-equality shapes stay unbounded
    assert(SnapshotFilters.yearBound(
      EqualTo("o_custkey", Integer.valueOf(5))) === None)
    assert(SnapshotFilters.yearBound(
      GreaterThan("pt_year", Integer.valueOf(1996))) === None)
  }

  test("DESCRIBE-visible properties surface version and purge debt") {
    import spark.implicits._
    val (cat, base) = freshCatalog()
    val root = s"$base/t5"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey",
      Seq((1L, 1)).toDF("o_orderkey", "pt_year"))
    val props = new SnapshotSourceTable(
      T.tableSchema(root, 1).get, root, None).properties()
    assert(props.get("version") === "1")
    assert(props.get("pending_dv_bytes").toLong > 0)
    assert(props.get("pending_dv_years") === "1")
    assert(props.get("num_files").toInt === T.files(root, 1).size)
    // and through plain SQL
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.t5")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("pending_dv_bytes"))
  }
}
