package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** Parquet predicate pushdown in the snapshot connector's reader: the
  * scan's residual filters reach Spark's own ParquetFilters, which
  * skip ROW GROUPS whose stats exclude them — with every filter still
  * residual in Spark, so results are bit-identical with pushdown on
  * or off (`spark.sql.parquet.filterPushdown`). */
class PredicatePushSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** One-file, many-row-group fixture: 20k rows sorted by k so row
    * groups carry disjoint k ranges (the shape stats skipping needs). */
  private def sortedFixture(): String = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("graft.snapshot.rowGroupBytes")
    hconf.setLong("graft.snapshot.rowGroupBytes", 32L * 1024)
    try {
      val root = Files.createTempDirectory("g_predpush").toString
      val df = (0L until 20000L).map(k => (k, 1, s"payload_$k"))
        .toDF("k", "pt_year", "s").sort("k").coalesce(1)
      T.commit(spark, root, 0, df, Seq(1))
      assert(T.files(root, 0).size === 1)
      root
    } finally {
      if (prev == null) hconf.unset("graft.snapshot.rowGroupBytes")
      else hconf.set("graft.snapshot.rowGroupBytes", prev)
    }
  }

  private def rowGroups(path: String): Int = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sparkContext.hadoopConfiguration))
    try fr.getRowGroups.size finally fr.close()
  }

  private def table(root: String) =
    spark.read.format("graft-snapshot").option("root", root).load()

  private def noPushdown[A](f: => A): A =
    ScanMetrics.withConf(spark, "spark.sql.parquet.filterPushdown",
      "false")(f)

  test("built predicate prunes row groups via parquet's stats filter") {
    val root = sortedFixture()
    assert(rowGroups(T.files(root, 0).head) >= 4,
      "fixture needs many row groups")
    // k in [100, 200]: one narrow slice of a sorted file — the scan
    // emits only the surviving row groups' rows, and fewer with
    // pushdown than without
    def slice = table(root)
      .filter(col("k") >= 100L && col("k") <= 200L)
    val pushed = ScanMetrics.scanRows(slice)
    val unpushed = noPushdown(ScanMetrics.scanRows(slice))
    assert(unpushed === 20000L)
    assert(pushed < unpushed,
      s"stats filter must drop row groups ($pushed of $unpushed rows)")
    assert(slice.count() === 101L)
  }

  test("the reader decodes only the row groups holding the " +
      "predicate's slice") {
    val root = sortedFixture()
    val groups = rowGroups(T.files(root, 0).head)
    val emitted = ScanMetrics.scanRows(
      table(root).filter(col("k") >= 100L && col("k") <= 200L))
    // a 101-row slice of a sorted file spans at most two row groups
    assert(emitted >= 101L)
    assert(emitted <= 2L * 20000L / groups + 1000L,
      s"pushed [100,200] decoded $emitted of 20000 rows " +
      s"($groups row groups)")
  }

  test("results identical with pushdown on and off (filters residual)") {
    val root = sortedFixture()
    def readFiltered(): Seq[(Long, String)] =
      table(root)
        .filter(col("k") >= 9990L && col("k") < 10010L &&
          col("s").startsWith("payload_"))
        .select("k", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val on = readFiltered()
    val off = noPushdown(readFiltered())
    assert(on === off)
    assert(on.map(_._1) === (9990L until 10010L))
  }

  test("type drift: out-of-int-range bounds over a widened INT32 " +
      "file, widened floats and absent columns filter exactly") {
    val base = Files.createTempDirectory("g_preddrift").toString
    val cat = "gdrift_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE TABLE $cat.t (i INT, f FLOAT, pt_year INT)")
    // pre-widen generation: INT32 and FLOAT files
    spark.sql(s"INSERT INTO $cat.t VALUES (5, CAST(1.5 AS FLOAT), 1), " +
      s"(2147483647, CAST(2.5 AS FLOAT), 1), (-7, NULL, 1)")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN i TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN later BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES (3000000000, 9.5, 1, 4)")
    def ids(where: String): Seq[Long] =
      spark.sql(s"SELECT i FROM $cat.t WHERE $where").collect()
        .map(_.getLong(0)).sorted.toSeq
    def both(where: String): Seq[Long] = {
      val on = ids(where)
      assert(noPushdown(ids(where)) === on, s"pushdown changed $where")
      on
    }
    // bounds past Int.MaxValue over the INT32 file
    assert(both("i >= 3000000000") === Seq(3000000000L))
    assert(both("i < 3000000000") === Seq(-7L, 5L, 2147483647L))
    assert(both("i <= 5000000000 AND i >= 2147483647") ===
      Seq(2147483647L, 3000000000L))
    assert(both("i = 3000000000") === Seq(3000000000L))
    assert(both("i > -3000000000") ===
      Seq(-7L, 5L, 2147483647L, 3000000000L))
    // a double bound over the pre-widen FLOAT file
    assert(both("f > 2.0") === Seq(2147483647L, 3000000000L))
    // a column the first file predates: its rows null-fill
    assert(both("later >= 1") === Seq(3000000000L))
    assert(both("later IS NULL") === Seq(-7L, 5L, 2147483647L))
  }

  test("NaN rows survive a pushed-down numeric filter (Spark orders " +
      "NaN greatest; a row group holding NaN is never skipped)") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_prednan").toString
    val df = Seq((1L, 1, 1.0), (2L, 1, Double.NaN), (3L, 1, 9.0))
      .toDF("k", "pt_year", "v")
    T.commit(spark, root, 0, df, Seq(1))
    // a second file whose only non-NaN value is BELOW the bound: its
    // row group must not be skipped on stats that ignore the NaN
    T.commitAppend(spark, root, 1,
      Seq((4L, 1, 1.0), (5L, 1, Double.NaN)).toDF("k", "pt_year", "v")
        .coalesce(1))
    def got = table(root).filter(col("v") > 5.0).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    // Spark semantics: NaN > 5.0 is TRUE — rows 2 and 5 must be there
    assert(got === Seq(2L, 3L, 5L))
    assert(noPushdown(got) === Seq(2L, 3L, 5L))
    assert(table(root).filter(col("v") === Double.NaN).count() === 2L)
  }

  test("pre-evolution files read under a filter on the added column") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_predevo").toString
    val v0 = Seq((1L, 1)).toDF("k", "pt_year")
    T.commit(spark, root, 0, v0, Seq(1))
    val v1 = Seq((2L, 1, 77L), (3L, 1, 5L)).toDF("k", "pt_year", "extra")
    T.commitAppend(spark, root, 1, v1)
    val got = table(root).filter(col("extra") >= 10L).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(2L))
  }
}
