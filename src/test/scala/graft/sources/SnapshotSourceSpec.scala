package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** The graft-snapshot DSv2 connector: batch reads resolve the head
  * version, the micro-batch stream serves each VERSION's manifest-diff
  * fresh files, offsets persist across restarts (a second drain picks
  * up only versions committed since), rewritten partitions re-emit in
  * full (the documented ignoreChanges semantics), and pre-evolution
  * files null-fill by-name. */
class SnapshotSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("k", "pt_year", "v")
  }

  /** Drain the stream once with AvailableNow, landing each batch in
    * outDir/b<id>; returns the accumulated rows read back. */
  private def drain(root: String, ckpt: String,
      out: String): org.apache.spark.sql.DataFrame = {
    val src = spark.readStream.format("graft-snapshot")
      .option("root", root).load()
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/b$id")
      }
      .start()
    try { if (!q.awaitTermination(300000)) q.processAllAvailable() }
    finally q.stop()
    spark.read.option("recursiveFileLookup", "true")
      .schema(src.schema).parquet(out)
  }

  /** drain() with extra reader options (mid-history subscriptions). */
  private def drainWith(root: String, ckpt: String, out: String,
      opts: Map[String, String]): org.apache.spark.sql.DataFrame = {
    var rd = spark.readStream.format("graft-snapshot")
      .option("root", root)
    opts.foreach { case (k, v) => rd = rd.option(k, v) }
    val src = rd.load()
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/b$id")
      }
      .start()
    try { if (!q.awaitTermination(300000)) q.processAllAvailable() }
    finally q.stop()
    spark.read.option("recursiveFileLookup", "true")
      .schema(src.schema).parquet(out)
  }

  test("startingVersion / startingTimestamp subscribe mid-history, " +
      "exactly-once across a restart") {
    val root = Files.createTempDirectory("g_src_midhist").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    T.commitAppend(spark, root, 1, frame((2L, 1, 2.0)))
    T.commitAppend(spark, root, 2, frame((3L, 1, 3.0)))

    // start at v1: v0's row never serves
    val ck1 = Files.createTempDirectory("g_mid_ck1").toString
    val out1 = Files.createTempDirectory("g_mid_out1").toString
    val got1 = drainWith(root, ck1, out1,
      Map("startingVersion" -> "1"))
    assert(got1.select("k").collect().map(_.getLong(0)).toSet ===
      Set(2L, 3L), "startingVersion=1 must serve [v1, head] only")

    // restart from the same checkpoint: only versions committed since
    T.commitAppend(spark, root, 3, frame((4L, 1, 4.0)))
    val got1b = drainWith(root, ck1, out1,
      Map("startingVersion" -> "1"))
    assert(got1b.select("k").collect().map(_.getLong(0)).toSet ===
      Set(2L, 3L, 4L), "restart lost or re-served rows")

    // startingTimestamp resolves to the earliest version at/after it
    val ts2 = T.commitTs(root, 2).get
    val ck2 = Files.createTempDirectory("g_mid_ck2").toString
    val out2 = Files.createTempDirectory("g_mid_out2").toString
    val got2 = drainWith(root, ck2, out2,
      Map("startingTimestamp" -> ts2.toString))
    assert(got2.select("k").collect().map(_.getLong(0)).toSet ===
      Set(3L, 4L), s"startingTimestamp=$ts2 must serve [v2, head]")

    // a timestamp past every commit tails only FUTURE versions
    val ck3 = Files.createTempDirectory("g_mid_ck3").toString
    val out3 = Files.createTempDirectory("g_mid_out3").toString
    val tsFuture = T.commitTs(root, 3).get + 1
    drainWith(root, ck3, out3,
      Map("startingTimestamp" -> tsFuture.toString))
    T.commitAppend(spark, root, 4, frame((5L, 1, 5.0)))
    val got3 = drainWith(root, ck3, out3,
      Map("startingTimestamp" -> tsFuture.toString))
    assert(got3.select("k").collect().map(_.getLong(0)).toSet ===
      Set(5L), "a future-dated subscription must serve only new commits")

    // both options together refuse
    intercept[Exception] {
      drainWith(root, Files.createTempDirectory("g_mid_ck4").toString,
        Files.createTempDirectory("g_mid_out4").toString,
        Map("startingVersion" -> "1", "startingTimestamp" -> "0"))
    }

    // malformed timestamps surface the FRIENDLY error, never a raw
    // NumberFormatException: empty string (vacuously all-digits) and
    // an all-digit string overflowing Long both hit the same message
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    Seq("", "99999999999999999999").foreach { bad =>
      val e = intercept[Exception] {
        drainWith(root, Files.createTempDirectory("g_mid_ck5").toString,
          Files.createTempDirectory("g_mid_out5").toString,
          Map("startingTimestamp" -> bad))
      }
      assert(messages(e).exists(_.contains("not epoch millis")),
        s"startingTimestamp='$bad' wanted the friendly parse error, " +
        s"got: ${messages(e)}")
    }
  }

  test("batch read resolves the head version through the registered short name") {
    val root = Files.createTempDirectory("g_src_batch").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0), (2L, 2, 2.0)), Seq(1, 2))
    T.commit(spark, root, 1, frame((2L, 2, 20.0)), Seq(2))
    val got = spark.read.format("graft-snapshot").option("root", root)
      .load().collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got === Set((1L, 1.0), (2L, 20.0)))
  }

  test("stream replays the table then tails only new versions across restarts") {
    val root = Files.createTempDirectory("g_src_stream").toString
    val ckpt = Files.createTempDirectory("g_src_ckpt").toString
    val out = Files.createTempDirectory("g_src_out").toString
    // append-shaped history: each commit opens a fresh partition
    T.commit(spark, root, 0, frame((1L, 1, 1.0), (2L, 1, 2.0)), Seq(1))
    T.commit(spark, root, 1, frame((3L, 2, 3.0)), Seq(2))

    val first = drain(root, ckpt, out.toString)
    assert(first.count() === 3, "first drain must replay v0 + v1")

    // two more commits AFTER the first drain
    T.commit(spark, root, 2, frame((4L, 3, 4.0)), Seq(3))
    T.commit(spark, root, 3, frame((5L, 4, 5.0), (6L, 4, 6.0)), Seq(4))
    val second = drain(root, ckpt, out.toString)
    // accumulated = 6 rows; the second drain's own batch carried ONLY
    // the new versions' 3 rows (batch ids differ, so out/ keeps both)
    assert(second.count() === 6)
    val batchDirs = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(batchDirs.length === 2, s"expected 2 batch dirs, got ${batchDirs.mkString(",")}")
    val secondBatch = spark.read.schema(first.schema)
      .parquet(s"$out/${batchDirs.last}")
    assert(secondBatch.count() === 3,
      "restart re-served already-committed versions")
    assert(secondBatch.select("k").collect().map(_.getLong(0)).toSet ===
      Set(4L, 5L, 6L))

    // third drain with nothing new: no new batch dir content
    val third = drain(root, ckpt, out.toString)
    assert(third.count() === 6)
  }

  test("a rewritten partition re-emits its fresh files in full") {
    val root = Files.createTempDirectory("g_src_rw").toString
    val ckpt = Files.createTempDirectory("g_src_rw_ck").toString
    val out = Files.createTempDirectory("g_src_rw_out").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0), (2L, 1, 2.0)), Seq(1))
    drain(root, ckpt, out.toString)
    // v1 REWRITES partition 1 (upsert shape: key 2 repriced, key 7 new)
    T.commit(spark, root, 1,
      frame((1L, 1, 1.0), (2L, 1, 22.0), (7L, 1, 7.0)), Seq(1))
    drain(root, ckpt, out.toString)
    val dirs = new java.io.File(out).listFiles().map(_.getName).sorted
    val rewriteBatch = spark.read
      .option("recursiveFileLookup", "true")
      .parquet(s"$out/${dirs.last}")
    // ignoreChanges semantics: the whole rewritten partition re-emits
    assert(rewriteBatch.count() === 3)
    assert(rewriteBatch.filter(col("k") === 2L)
      .head.getDouble(2) === 22.0)
  }

  test("pre-evolution files null-fill a later-added column by name") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_src_evo").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    T.commit(spark, root, 1,
      Seq((2L, 2, 2.0, "web")).toDF("k", "pt_year", "v", "chan"), Seq(2))
    val got = spark.read.format("graft-snapshot").option("root", root)
      .load().orderBy("k").collect()
    assert(got.length === 2)
    assert(got(0).isNullAt(3), "the pre-evolution row must null-fill chan")
    assert(got(1).getString(3) === "web")
  }

  test("filter pushdown prunes files from manifest stats; results stay exact") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsPushDownRequiredColumns}
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import spark.implicits._

    val root = Files.createTempDirectory("g_src_push").toString
    val df = (0L until 4000L).map(k => (k, 1, k.toDouble))
      .toDF("k", "pt_year", "v").repartitionByRange(4, col("k"))
    T.commit(spark, root, 0, df, Seq(1), distribute = false)
    val all = T.files(root, 0).size
    assert(all >= 4)

    val provider = new SnapshotSourceProvider
    val opts = new CaseInsensitiveStringMap(Map("root" -> root).asJava)
    val schema = provider.inferSchema(opts)
    def scanWith(f: org.apache.spark.sql.sources.Filter*)
        : org.apache.spark.sql.connector.read.Scan = {
      val sb = provider.getTable(schema, Array.empty,
          opts.asCaseSensitiveMap())
        .asInstanceOf[SupportsRead].newScanBuilder(opts)
      val residual = sb.asInstanceOf[SupportsPushDownFilters]
        .pushFilters(f.toArray)
      // EVERY filter must come back as residual — pruning is
      // file-granular, exactness belongs to Spark's re-evaluation
      assert(residual.toSet === f.toSet)
      sb.asInstanceOf[SupportsPushDownRequiredColumns]
        .pruneColumns(StructType(schema.fields.filter(_.name == "k")))
      sb.build()
    }
    // two-sided range → a narrow band of files
    val banded = scanWith(GreaterThanOrEqual("k", java.lang.Long.valueOf(100L)),
      LessThanOrEqual("k", java.lang.Long.valueOf(200L)))
      .toBatch.planInputPartitions()
    assert(banded.length < all && banded.nonEmpty,
      s"pruned ${banded.length}/$all")
    // one-sided strict bound prunes too (conservatively inclusive)
    val tail = scanWith(GreaterThan("k", java.lang.Long.valueOf(3800L)))
      .toBatch.planInputPartitions()
    assert(tail.length < all && tail.nonEmpty)
    // end-to-end through the planner: filtered + projected read is exact
    val got = spark.read.format("graft-snapshot").option("root", root)
      .load().filter(col("k") >= 100 && col("k") <= 200).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got === (100L to 200L).toSet)
  }

  test("column projection reaches the parquet reader (narrow rows, null-fill)") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_src_proj").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    T.commit(spark, root, 1,
      Seq((2L, 2, 2.0, "web")).toDF("k", "pt_year", "v", "chan"), Seq(2))
    // narrow select over the evolved table: the pre-evolution file is
    // read under a projection it can't fully satisfy — chan null-fills
    val rows = spark.read.format("graft-snapshot").option("root", root)
      .load().select("k", "chan").orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1))).toSeq ===
      Seq((1L, null), (2L, "web")))
    // count(*) — empty required schema still counts every row
    assert(spark.read.format("graft-snapshot").option("root", root)
      .load().count() === 2L)
  }

  test("merge-on-read deletes hold through the connector's batch reads") {
    val root = Files.createTempDirectory("g_src_dv").toString
    T.commit(spark, root, 0,
      frame((1L, 1, 1.0), (2L, 1, 2.0), (3L, 2, 3.0)), Seq(1, 2))
    T.commitDelete(spark, root, 1, "k",
      frame((2L, 1, 0.0)).select("k", "pt_year"))
    val got = spark.read.format("graft-snapshot").option("root", root)
      .load().collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L), "the reader served a tombstoned row")
    // a narrow projection that drops the key column still applies the
    // vector (the reader keeps key+pt_year projected internally)
    assert(spark.read.format("graft-snapshot").option("root", root)
      .load().select("v").collect()
      .map(_.getDouble(0)).toSet === Set(1.0, 3.0))
    // count(*) over the DV version
    assert(spark.read.format("graft-snapshot").option("root", root)
      .load().count() === 2L)
  }

  test("versionAsOf pins a batch read; streams refuse a pinned version") {
    val root = Files.createTempDirectory("g_src_vasof").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    T.commit(spark, root, 1, frame((1L, 1, 11.0), (2L, 1, 2.0)), Seq(1))
    def at(v: Int) = spark.read.format("graft-snapshot")
      .option("root", root).option("versionAsOf", v.toString).load()
    assert(at(0).count() === 1 && at(1).count() === 2)
    assert(at(0).head.getDouble(2) === 1.0)
    val e = intercept[Exception] {
      spark.readStream.format("graft-snapshot").option("root", root)
        .option("versionAsOf", "0").load()
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    assert(e.getMessage != null)
  }

  test("versionAsOf reads the pinned version's columns, as VERSION AS OF " +
      "does") {
    val base = Files.createTempDirectory("g_src_vasof_schema").toString
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    val cat = "gvas_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra DOUBLE")
    val viaSql = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0")
    val viaProvider = spark.read.format("graft-snapshot")
      .option("root", root).option("versionAsOf", "0").load()
    assert(viaSql.columns.toSeq === Seq("k", "pt_year", "v"))
    assert(viaProvider.columns.toSeq === viaSql.columns.toSeq)
    assert(viaProvider.collect().toSeq === viaSql.collect().toSeq)
    // the head still serves the added column
    assert(spark.read.format("graft-snapshot").option("root", root).load()
      .columns.toSeq === Seq("k", "pt_year", "v", "extra"))
  }

  test("date predicates prune files: SQL and readRange on a date column") {
    import spark.implicits._
    val base = Files.createTempDirectory("g_src_date").toString
    val root = s"$base/t"
    val d = java.sql.Date.valueOf(_: String)
    T.commit(spark, root, 0, Seq(
      (1L, 1, d("2020-01-05")), (2L, 1, d("2020-06-30")),
      (3L, 2, d("2021-02-01")), (4L, 2, d("2021-11-11")))
      .toDF("k", "pt_year", "d"), Seq(1, 2))
    assert(T.files(root, 0).size === 2)
    val cat = "gdate_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    assert(spark.sql(s"SELECT k FROM $cat.t WHERE d >= DATE'2021-01-01'")
      .collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    assert(SnapshotScan.lastPlannedFiles(root) === 1,
      "the date bound must prune the 2020 file by its manifest stats")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSet
    assert(keys(T.readRange(spark, root, 0, "d", d("2020-02-01"),
      d("2021-03-01"))) === Set(2L, 3L))
    assert(SnapshotScan.lastPlannedFiles(root) === 2)
    assert(keys(T.readRange(spark, root, 0, "d",
      java.time.LocalDate.parse("2021-06-01"), null)) === Set(4L))
    assert(SnapshotScan.lastPlannedFiles(root) === 1)
  }

  test("SQL catalog: SELECT ... VERSION AS OF through SnapshotCatalog") {
    val base = Files.createTempDirectory("g_src_cat").toString
    val root = s"$base/orders_t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    T.commit(spark, root, 1, frame((1L, 1, 11.0), (9L, 1, 90.0)), Seq(1))
    spark.conf.set("spark.sql.catalog.lakespec",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakespec.base", base)
    assert(spark.sql(
      "SELECT sum(v) FROM lakespec.orders_t VERSION AS OF 0")
      .head.getDouble(0) === 30.0)
    assert(spark.sql(
      "SELECT sum(v) FROM lakespec.orders_t VERSION AS OF 1")
      .head.getDouble(0) === 121.0)
    // head read without the clause
    assert(spark.sql(
      "SELECT count(*) FROM lakespec.orders_t").head.getLong(0) === 3L)
    // filter pushdown works through SQL too (results exact)
    assert(spark.sql(
      "SELECT k FROM lakespec.orders_t WHERE k >= 9")
      .collect().map(_.getLong(0)).toSet === Set(9L))
    // DDL through the catalog (r14: ALTER TABLE ADD COLUMN lands as a
    // schema-bump commit; r16: RENAME COLUMN lands as a name-mapping
    // commit; DROP removes the root; SqlDdlSpec owns the full matrix)
    spark.sql("ALTER TABLE lakespec.orders_t ADD COLUMN xx DOUBLE")
    assert(spark.sql("SELECT xx FROM lakespec.orders_t")
      .collect().forall(_.isNullAt(0)), "carried files must null-fill")
    spark.sql("ALTER TABLE lakespec.orders_t RENAME COLUMN xx TO y")
    assert(spark.sql("SELECT y FROM lakespec.orders_t")
      .collect().forall(_.isNullAt(0)), "rename lost the null-fill")
    spark.sql("DROP TABLE lakespec.orders_t")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM lakespec.orders_t").collect()
    }
  }

  test("TIMESTAMP AS OF resolves the latest version committed at or before") {
    val base = Files.createTempDirectory("g_src_tsof").toString
    val root = s"$base/tt"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(20)
    T.commit(spark, root, 1, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    assert(T.versionAt(root, afterV0) === 0)
    assert(T.versionAt(root, System.currentTimeMillis()) === 1)
    intercept[IllegalArgumentException] {
      T.versionAt(root, T.commitTs(root, 0).get - 10000)
    }
    spark.conf.set("spark.sql.catalog.lakets",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakets.base", base)
    // ISO instant with explicit Z — immune to session/JVM tz skew
    val tsLit = java.time.Instant.ofEpochMilli(afterV0).toString
    assert(spark.sql(
      s"SELECT count(*) FROM lakets.tt TIMESTAMP AS OF '$tsLit'")
      .head.getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM lakets.tt")
      .head.getLong(0) === 2L)
  }

  test("a pure delete commit stops an append stream unless ignoreDeletes") {
    val root = Files.createTempDirectory("g_src_igdel").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0), (2L, 1, 2.0)), Seq(1))
    T.commitDelete(spark, root, 1, "k",
      frame((2L, 1, 0.0)).select("k", "pt_year"))
    T.commit(spark, root, 2, frame((3L, 2, 3.0)), Seq(2))
    // default: loud failure naming the option
    val out1 = Files.createTempDirectory("g_src_igdel_o1").toString
    val e = intercept[Exception] {
      drain(root, Files.createTempDirectory("g_src_igdel_c1").toString,
        out1)
      spark.read.option("recursiveFileLookup", "true").parquet(out1)
        .count()
    }
    assert(e.getMessage.contains("ignoreDeletes") ||
      (e.getCause != null && e.getCause.getMessage.contains("ignoreDeletes")))
    // opted in: the delete commit is skipped, appends still flow
    val out2 = Files.createTempDirectory("g_src_igdel_o2").toString
    val src = spark.readStream.format("graft-snapshot")
      .option("root", root).option("ignoreDeletes", "true").load()
    val q = src.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("g_src_igdel_c2").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out2/b$id")
      }
      .start()
    try { if (!q.awaitTermination(300000)) q.processAllAvailable() }
    finally q.stop()
    val got = spark.read.option("recursiveFileLookup", "true")
      .schema(src.schema).parquet(out2)
      .collect().map(_.getLong(0)).toSet
    // v0's appends + v2's append; the delete itself is not representable
    assert(got === Set(1L, 2L, 3L))
  }

  test("the stream fails loudly when its resume point is vacuumed away") {
    val root = Files.createTempDirectory("g_src_vac").toString
    T.commit(spark, root, 0, frame((1L, 1, 1.0)), Seq(1))
    T.commit(spark, root, 1, frame((2L, 2, 2.0)), Seq(2))
    T.commit(spark, root, 2, frame((3L, 3, 3.0)), Seq(3))
    T.vacuum(root, retain = 1)
    val e = intercept[Exception] {
      drain(root,
        Files.createTempDirectory("g_src_vac_ck").toString,
        Files.createTempDirectory("g_src_vac_out").toString).count()
    }
    assert(e.getMessage != null)
  }
}
