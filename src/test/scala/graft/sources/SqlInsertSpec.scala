package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.SnapshotTable

/** SQL INSERT through the DSv2 catalog + the commitAppend it rides on:
  * TRUE APPEND semantics (parent data files neither read nor
  * rewritten — mtimes pinned; new partitions open, existing ones
  * merge at the metadata level), txn-protocol versioning, schema
  * evolution via the direct API, the tombstoned-partition refusal,
  * and the read-only contracts (pinned versions, INSERT OVERWRITE). */
class SqlInsertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_sqlins_cat").toString
    val name = "gtest_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  test("INSERT INTO appends without rewriting parent files") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t1"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    val v0Files = T.files(root, 0)
    val v0Times = v0Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    // append into an EXISTING partition (1) and a NEW one (3)
    frame((9L, 1, 90.0), (3L, 3, 30.0)).createOrReplaceTempView("ins_b1")
    spark.sql(s"INSERT INTO $cat.t1 SELECT * FROM ins_b1")
    assert(T.versions(root) === Seq(0, 1))
    // TRUE append: every v0 file is still referenced AND untouched
    assert(v0Files.forall(T.files(root, 1).contains))
    assert(v0Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      v0Times, "append rewrote parent data files")
    assert(spark.sql(s"SELECT * FROM $cat.t1").count() === 4)
    assert(spark.sql(
      s"SELECT sum(o_totalprice) AS s FROM $cat.t1 WHERE pt_year = 1")
      .collect().head.getDouble(0) === 100.0)
    // time travel still serves the pre-insert state
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t1 VERSION AS OF 0")
      .collect().head.getLong(0) === 2)
  }

  test("INSERT OVERWRITE replaces the head in ONE commit; history intact") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t2"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (3L, 2, 30.0)), Seq(1, 2))
    frame((7L, 1, 70.0)).createOrReplaceTempView("ins_b2")
    spark.sql(s"INSERT OVERWRITE $cat.t2 SELECT * FROM ins_b2")
    assert(T.versions(root) === Seq(0, 1), "overwrite must be ONE commit")
    // the head is exactly the batch — partition 2 emptied, not carried
    assert(spark.sql(s"SELECT o_orderkey FROM $cat.t2").collect()
      .map(_.getLong(0)).toSet === Set(7L))
    // history still serves the pre-overwrite state until vacuum
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t2 VERSION AS OF 0")
      .collect().head.getLong(0) === 2)
  }

  test("INSERT OVERWRITE PARTITION (pt_year=k) replaces one partition; " +
      "others carry by pointer and history keeps the pre-state") {
    val (cat, base) = freshCatalog()
    val root = s"$base/tpo"
    T.commit(spark, root, 0, frame(
      (1L, 1, 10.0), (2L, 2, 20.0), (3L, 2, 30.0)), Seq(1, 2))
    val p1Files = T.files(root, 0).filter(_.contains("_y1_"))
    val p1Times = p1Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    spark.sql(s"INSERT OVERWRITE $cat.tpo PARTITION (pt_year = 2) " +
      "VALUES (7, 70.0), (8, 80.0)")
    assert(T.versions(root) === Seq(0, 1))
    val rows = spark.sql(
      s"SELECT o_orderkey, pt_year, o_totalprice FROM $cat.tpo")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    assert(rows === Set((1L, 1, 10.0), (7L, 2, 70.0), (8L, 2, 80.0)),
      "partition-scoped overwrite missed or widened its scope")
    // partition 1 carried by pointer: same files, untouched bytes
    assert(p1Files.forall(T.files(root, 1).contains))
    assert(p1Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      p1Times, "overwrite of partition 2 rewrote partition 1's files")
    // the pre-overwrite state keeps serving
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tpo VERSION AS OF 0 " +
      "WHERE pt_year = 2").collect().head.getLong(0) === 2)
    // a filtered overwrite on a NON-partition column still refuses
    val e = intercept[Exception](
      frame((9L, 1, 90.0)).writeTo(s"$cat.tpo")
        .overwrite(col("o_orderkey") === 1L))
    assert(e.getMessage.contains("PARTITION-scoped"))
  }

  test("INSERT OVERWRITE PARTITION under dynamic partitionOverwriteMode " +
      "gives the static head: one commit, others carried by pointer") {
    val (cat, base) = freshCatalog()
    Seq("st", "dy").foreach(t => T.commit(spark, s"$base/$t", 0, frame(
      (1L, 1, 10.0), (2L, 2, 20.0), (3L, 2, 30.0)), Seq(1, 2)))
    def overwrite(t: String): Unit =
      spark.sql(s"INSERT OVERWRITE $cat.$t PARTITION (pt_year = 2) " +
        s"SELECT o_orderkey + 5, o_totalprice * 2 FROM $cat.$t " +
        "WHERE pt_year = 2 AND o_orderkey > 2")
    def head(t: String): Set[(Long, Int, Double)] = spark.sql(
      s"SELECT o_orderkey, pt_year, o_totalprice FROM $cat.$t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    val dyRoot = s"$base/dy"
    val p1Files = T.files(dyRoot, 0).filter(_.contains("_y1_"))
    val p1Times = p1Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    overwrite("st")
    ScanMetrics.withConf(spark,
      "spark.sql.sources.partitionOverwriteMode", "dynamic")(
      overwrite("dy"))
    assert(head("dy") === Set((1L, 1, 10.0), (8L, 2, 60.0)))
    assert(head("dy") === head("st"))
    assert(T.versions(dyRoot) === Seq(0, 1), "one commit")
    assert(p1Files.forall(T.files(dyRoot, 1).contains))
    assert(p1Files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap ===
      p1Times, "the dynamic overwrite rewrote partition 1's files")
    // without a partition spec, dynamic mode replaces exactly the
    // partitions the batch holds (3 is new, 1 stays)
    ScanMetrics.withConf(spark,
      "spark.sql.sources.partitionOverwriteMode", "dynamic")(
      spark.sql(s"INSERT OVERWRITE $cat.dy VALUES " +
        "(9, 2, 90.0), (4, 3, 40.0)"))
    assert(head("dy") === Set((1L, 1, 10.0), (9L, 2, 90.0),
      (4L, 3, 40.0)))
    assert(T.versions(dyRoot) === Seq(0, 1, 2))
  }

  test("an overwrite batch with NULL pt_year errors loudly (not NPE)") {
    val (cat, base) = freshCatalog()
    val root = s"$base/tnull"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val e = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $cat.tnull " +
      "SELECT CAST(7 AS BIGINT), CAST(NULL AS INT), 70.0"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("NULL pt_year")),
      s"wanted the loud scope error, got: ${messages(e)}")
    // the failed statement committed nothing
    assert(T.versions(root) === Seq(0))
  }

  test("an append (INSERT INTO) batch with NULL pt_year errors loudly " +
      "instead of silently dropping the rows") {
    val (cat, base) = freshCatalog()
    val root = s"$base/tnulla"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    // without the guard a NULL key unboxes to year 0 in the touched-
    // years collect and the staged isin filter then DROPS the row —
    // quiet data loss on the append path
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.tnulla " +
      "SELECT CAST(7 AS BIGINT), CAST(NULL AS INT), 70.0"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("NULL pt_year")),
      s"wanted the loud append guard, got: ${messages(e)}")
    assert(T.versions(root) === Seq(0))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tnulla")
      .collect().head.getLong(0) === 1)
  }

  test("a version-pinned table refuses writes") {
    val (_, base) = freshCatalog()
    val root = s"$base/t3"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val pinned = new SnapshotSourceTable(
      T.tableSchema(root, 0).get, root, Some(0))
    val e = intercept[IllegalArgumentException](
      pinned.newWriteBuilder(null))
    assert(e.getMessage.contains("read-only snapshot"))
  }

  test("commitAppend refuses tombstoned partitions, allows others") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_append_dv").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "o_orderkey",
      Seq((1L, 1)).toDF("o_orderkey", "pt_year"))
    val e = intercept[IllegalArgumentException](
      T.commitAppend(spark, root, 2, frame((5L, 1, 50.0))))
    assert(e.getMessage.contains("tombstones"))
    // appends elsewhere carry the pending DV line untouched
    T.commitAppend(spark, root, 2, frame((6L, 2, 60.0)))
    assert(T.dvOf(root, 2) === T.dvOf(root, 1))
    assert(T.read(spark, root, 2).collect().map(_.getLong(0)).toSet ===
      Set(2L, 6L))
  }

  test("commitAppend evolves schema like commit does") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_append_evolve").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val wide = Seq((2L, 1, 20.0, "web"))
      .toDF("o_orderkey", "pt_year", "o_totalprice", "o_channel")
    T.commitAppend(spark, root, 1, wide)
    val got = T.read(spark, root, 1)
      .select("o_orderkey", "o_channel").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> None, 2L -> Some("web")))
    // v0 keeps its narrow schema verbatim
    assert(!T.tableSchema(root, 0).get.fieldNames.contains("o_channel"))
  }

  test("the streaming source serves SQL appends as append progress") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t4"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    frame((2L, 1, 20.0)).createOrReplaceTempView("ins_b4")
    spark.sql(s"INSERT INTO $cat.t4 SELECT * FROM ins_b4")
    val out = Files.createTempDirectory("g_sqlins_out").toString
    val q = spark.readStream.format("graft-snapshot")
      .option("root", root).load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("g_sqlins_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination(300000); q.stop()
    // v0's row + the appended row, no re-emission of v0 in v1's diff
    assert(spark.read.parquet(out).count() === 2)
  }
}
