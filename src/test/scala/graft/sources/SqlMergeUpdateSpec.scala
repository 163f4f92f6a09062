package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.SnapshotTable

/** SQL UPDATE / MERGE INTO through the DSv2 row-level operation
  * (group-based partition copy-on-write): runtime group filtering
  * narrows the rewrite to partitions actually holding matches
  * (unmatched partitions' files mtime-pinned), MERGE composes matched
  * UPDATE/DELETE with NOT-MATCHED inserts (inserts into unscanned
  * partitions APPEND, never clobber), UPDATE can move rows across
  * partitions, NULL-evaluating rows stay untouched, time travel keeps
  * serving the pre-mutation state, and a DELETE whose predicate the
  * metadata path can't translate now rewrites instead of refusing. */
class SqlMergeUpdateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_sqlmrg_cat").toString
    val name = "gmrg_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  test("UPDATE rewrites only partitions holding matches; history intact") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t1"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    val p2Files = T.files(root, 0).filter(_.contains("_y2_"))
    val p2Times = p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    spark.sql(
      s"UPDATE $cat.t1 SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderkey = 1")
    assert(T.versions(root) === Seq(0, 1))
    val rows = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM $cat.t1").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 20.0, 2L -> 20.0, 3L -> 30.0))
    // partition 2 held no matches: runtime group filtering carried it
    // by pointer — same files, untouched bytes
    assert(p2Files.forall(T.files(root, 1).contains))
    assert(p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      p2Times, "UPDATE rewrote a partition with no matching rows")
    assert(spark.sql(
      s"SELECT o_totalprice FROM $cat.t1 VERSION AS OF 0 " +
      "WHERE o_orderkey = 1").collect().head.getDouble(0) === 10.0)
  }

  test("UPDATE carries stats-excluded files INSIDE the rewritten partition") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t1f"
    // ONE partition, TWO files with disjoint o_orderkey ranges: the
    // v0 commit holds keys 1-3, the v1 append holds keys 1000-1002
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 1, 30.0)), Seq(1))
    T.commitAppend(spark, root, 1, frame(
      (1000L, 1, 1.0), (1001L, 1, 2.0), (1002L, 1, 3.0)))
    val highFiles = T.files(root, 1).filterNot(T.files(root, 0).contains)
    assert(highFiles.nonEmpty)
    val highTimes = highFiles.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    spark.sql(s"UPDATE $cat.t1f SET o_totalprice = 99.0 " +
      "WHERE o_orderkey = 1")
    // the partition WAS rewritten — but file-granular: the appended
    // file's stats ([1000, 1002]) exclude o_orderkey = 1, so it
    // CARRIED verbatim (same path, untouched bytes) while only the
    // low-key file rewrote
    val head = T.versions(root).max
    assert(highFiles.forall(T.files(root, head).contains),
      "stats-excluded file was dropped from the rewritten partition")
    assert(highFiles.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      highTimes, "UPDATE rewrote a file its stats excluded")
    assert(T.files(root, head).size === T.files(root, 1).size,
      "file count changed: expected a one-file rewrite + carry")
    val rows = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM $cat.t1f").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0,
      1000L -> 1.0, 1001L -> 2.0, 1002L -> 3.0))
    assert(spark.sql(
      s"SELECT o_totalprice FROM $cat.t1f VERSION AS OF 1 " +
      "WHERE o_orderkey = 1").collect().head.getDouble(0) === 10.0)
  }

  test("UPDATE keeps NULL-evaluating rows untouched (3-valued logic)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (cat, base) = freshCatalog()
    val root = s"$base/t2"
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = true),
      StructField("pt_year", IntegerType, nullable = false)))
    T.commit(spark, root, 0, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 100L, 1), Row(2L, null, 1), Row(3L, 900L, 1))),
      schema), Seq(1))
    spark.sql(
      s"UPDATE $cat.t2 SET o_custkey = 0 WHERE o_custkey <= 500")
    val rows = spark.sql(
      s"SELECT o_orderkey, o_custkey FROM $cat.t2").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(rows === Map(1L -> 0L, 2L -> null, 3L -> 900L),
      "UPDATE mutated or dropped a NULL-evaluating row")
  }

  test("UPDATE can move rows across partitions (old gone, new landed)") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t3"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    spark.sql(s"UPDATE $cat.t3 SET pt_year = 2 WHERE o_orderkey = 1")
    val byYear = spark.sql(s"SELECT o_orderkey, pt_year FROM $cat.t3")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byYear === Map(1L -> 2, 2L -> 2))
    // partition 1 is now empty (pointer dropped); 2 holds both rows
    assert(T.pointers(root, T.versions(root).max).keySet === Set(2))
  }

  test("MERGE: matched update + matched delete + not-matched insert") {
    import spark.implicits._
    val (cat, base) = freshCatalog()
    val root = s"$base/t4"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (9L, 2, 90.0)), Seq(1, 2))
    val p2Files = T.files(root, 0).filter(_.contains("_y2_"))
    val p2Times = p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    Seq((1L, 1, 11.0, "U"), (2L, 1, 0.0, "D"), (5L, 3, 50.0, "I"))
      .toDF("k", "y", "p", "op").createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.t4 t USING mrg_src s ON t.o_orderkey = s.k
          WHEN MATCHED AND s.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, pt_year, o_totalprice)
            VALUES (s.k, s.y, s.p)""")
    val rows = spark.sql(
      s"SELECT o_orderkey, pt_year, o_totalprice FROM $cat.t4")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    assert(rows === Set((1L, 1, 11.0), (9L, 2, 90.0), (5L, 3, 50.0)))
    // partition 2 held no matches: carried by pointer even though the
    // MERGE inserted into a brand-new partition 3
    assert(p2Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      p2Times, "MERGE rewrote a partition with no matches")
    // pre-merge state keeps serving
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t4 VERSION AS OF 0")
      .collect().head.getLong(0) === 3)
  }

  test("MERGE inserts into an EXISTING unmatched partition append") {
    import spark.implicits._
    val (cat, base) = freshCatalog()
    val root = s"$base/t5"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (9L, 2, 90.0)), Seq(1, 2))
    // source matches only partition 1; the insert lands in partition 2
    // which the scan never read — its existing rows must survive
    Seq((1L, 1, 11.0), (7L, 2, 70.0)).toDF("k", "y", "p")
      .createOrReplaceTempView("mrg_src2")
    spark.sql(
      s"""MERGE INTO $cat.t5 t USING mrg_src2 s ON t.o_orderkey = s.k
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
          WHEN NOT MATCHED THEN
            INSERT (o_orderkey, pt_year, o_totalprice)
            VALUES (s.k, s.y, s.p)""")
    val rows = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM $cat.t5").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 11.0, 9L -> 90.0, 7L -> 70.0),
      "insert into an unscanned partition clobbered its rows")
  }

  test("a DELETE the metadata path can't translate rewrites group-based") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t6"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (3L, 1, 30.0), (13L, 2, 130.0)), Seq(1, 2))
    // `% 10 = 3` translates to no source Filter — previously refused;
    // the row-level operation now rewrites the matching partitions
    spark.sql(s"DELETE FROM $cat.t6 WHERE o_orderkey % 10 = 3")
    assert(spark.sql(s"SELECT o_orderkey FROM $cat.t6").collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t6 VERSION AS OF 0")
      .collect().head.getLong(0) === 3)
  }

  test("UPDATE on a version-pinned table refuses") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t7"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    T.commitAppend(spark, root, 1, frame((2L, 1, 20.0)))
    intercept[Exception](spark.sql(
      s"UPDATE $cat.t7 VERSION AS OF 0 SET o_totalprice = 0"))
  }

  test("a concurrent commit between scan and publish conflicts loudly") {
    val (_, base) = freshCatalog()
    val root = s"$base/t8"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    // simulate the stale-snapshot publish: the operation pinned v0,
    // a concurrent writer lands v1, then the replace targets v1 too
    T.commitAppend(spark, root, 1, frame((2L, 1, 20.0)))
    val e = intercept[IllegalArgumentException](
      T.commitReplaceEntries(root, 1, Seq.empty, Seq(1)))
    assert(e.getMessage.contains("conflict"))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source-only column") {
    import spark.implicits._
    val (cat, base) = freshCatalog()
    val root = s"$base/t9"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 1, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    // source carries `tag`, a column the table has never seen — the
    // WITH SCHEMA EVOLUTION clause lowers to alterTable(AddColumn)
    // (one empty schema-bump commit) before the row-level rewrite
    Seq((1L, 1, 11.0, "a"), (9L, 2, 90.0, "b"))
      .toDF("o_orderkey", "pt_year", "o_totalprice", "tag")
      .createOrReplaceTempView("mse_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t9 t USING mse_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql(
      s"SELECT o_orderkey, o_totalprice, tag FROM $cat.t9").collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), Option(r.getString(2)).getOrElse("-"))).toMap
    assert(rows === Map(
      1L -> (11.0, "a"),   // matched update carries the new column
      2L -> (20.0, "-"),   // untouched row null-fills it
      3L -> (30.0, "-"),
      9L -> (90.0, "b")))  // not-matched insert lands with it
    // pre-evolution versions keep the old schema verbatim
    assert(!spark.sql(s"SELECT * FROM $cat.t9 VERSION AS OF 0")
      .columns.contains("tag"))
  }

  test("UPDATE rewrites a table with a DECIMAL column exactly") {
    val (cat, base) = freshCatalog()
    val root = s"$base/tdec"
    T.commit(spark, root, 0, frame((1L, 1, 10.5), (2L, 1, 20.25))
      .withColumn("price", org.apache.spark.sql.functions.col(
        "o_totalprice").cast("decimal(10,2)")), Seq(1))
    spark.sql(s"UPDATE $cat.tdec SET price = price + 1 " +
      "WHERE o_orderkey = 1")
    assert(T.versions(root) === Seq(0, 1))
    assert(spark.sql(s"SELECT o_orderkey, price FROM $cat.tdec")
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap ===
      Map(1L -> new java.math.BigDecimal("11.50"),
        2L -> new java.math.BigDecimal("20.25")))
  }
}
