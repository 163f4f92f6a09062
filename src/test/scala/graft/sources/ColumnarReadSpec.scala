package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** Columnar batch reads in the snapshot connector: a DV-free scan
  * hands Spark's vectorized parquet reader's ColumnarBatches straight
  * to ColumnarToRow inside whole-stage codegen. Results must be
  * IDENTICAL to Spark's row-based parquet reader
  * (`spark.sql.parquet.enableVectorizedReader=false`) on every shape
  * the connector supports: nulls, string dictionaries, schema
  * evolution (null-fill + widened files), byte-range splits,
  * multi-batch row groups. Deletion vectors take the row path, where
  * the tombstone filter runs. */
class ColumnarReadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def withColumnarOff[A](f: => A): A =
    ScanMetrics.withConf(spark,
      "spark.sql.parquet.enableVectorizedReader", "false")(f)

  test("full scan: columnar on == off over nulls, strings, and " +
      "multi-batch row groups; plan carries ColumnarToRow") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_colscan").toString + "/t"
    val df0 = (0L until 20000L).map { k =>
      (k, (2020 + (k % 3)).toInt,
        if (k % 7 == 0) null else s"s_${k % 100}",
        if (k % 11 == 0) null else java.lang.Double.valueOf(k * 0.5),
        k % 2 == 0)
    }.toDF("k", "pt_year", "s", "d", "b")
    T.commit(spark, root, 0, df0, Seq(2020, 2021, 2022))

    def scan = spark.read.format("graft-snapshot").option("root", root)
      .load()
    val on = rowsOf(scan)
    assert(on.size === 20000)
    val off = withColumnarOff(rowsOf(scan))
    assert(on === off, "columnar and row reads must agree exactly")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"unpredicated scan must engage the columnar path:\n$plan")
  }

  test("aggregate parity on a projected subset (column pruning " +
      "composes with the columnar fill)") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_colagg").toString + "/t"
    val df0 = (0L until 5000L)
      .map(k => (k, 2024, k.toDouble / 3, s"g${k % 5}"))
      .toDF("k", "pt_year", "v", "g")
    T.commit(spark, root, 0, df0, Seq(2024))
    def agg = spark.read.format("graft-snapshot").option("root", root)
      .load().groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val on = rowsOf(agg)
    val off = withColumnarOff(rowsOf(agg))
    assert(on === off)
  }

  test("schema evolution: pre-evolution files null-fill and widened " +
      "int32 files upcast identically in both paths") {
    val (cat, base) = {
      val b = Files.createTempDirectory("g_colevo").toString
      val n = "gcol_" + java.util.UUID.randomUUID().toString.take(8)
      spark.conf.set(s"spark.sql.catalog.$n",
        classOf[SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$n.base", b)
      (n, b)
    }
    spark.sql(s"CREATE TABLE $cat.t (k INT, pt_year INT, s STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 2024, 'a'), (2, 2024, 'b')")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra DOUBLE")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(3000000000, 2025, 'c', 1.5), (4, 2025, 'd', 2.5)")
    def scan = spark.sql(s"SELECT k, pt_year, s, extra FROM $cat.t")
    val on = rowsOf(scan)
    val off = withColumnarOff(rowsOf(scan))
    assert(on === off)
    assert(on.size === 4)
    assert(on.exists(_.startsWith("3000000000|")),
      "the post-widen value must read back")
    // root sanity: old files really are int32 (the widen is lazy)
    assert(T.files(s"$base/t", 1).nonEmpty)
  }

  test("predicated scans stay columnar, deletion vectors take the " +
      "row path; results exact") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_colrefuse").toString + "/t"
    val df0 = (0L until 10000L).map(k => (k, 2024, k * 2.0))
      .toDF("k", "pt_year", "v")
    T.commit(spark, root, 0, df0, Seq(2024))
    def scan = spark.read.format("graft-snapshot").option("root", root)
      .load()
    // a pushed k-range: Spark's reader skips row groups in columnar
    // mode too, and the residual filter keeps the result exact
    val pred = scan.filter(col("k") >= 100 && col("k") <= 199)
    assert(pred.count() === 100)
    val plan = pred.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"predicated scan must stay columnar:\n$plan")
    assert(withColumnarOff(pred.count()) === 100)

    // a deletion vector: row path with tombstone filtering
    T.commitDelete(spark, root, 1, "k",
      (0L until 100L).map(k => (k, 2024)).toDF("k", "pt_year"))
    val afterDv = spark.read.format("graft-snapshot")
      .option("root", root).load()
    assert(afterDv.count() === 9900)
    assert(!afterDv.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(withColumnarOff(afterDv.count()) === 9900)
  }

  test("byte-range splits: a split large file reads each row group " +
      "exactly once in columnar mode") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("graft.snapshot.rowGroupBytes")
    hconf.setLong("graft.snapshot.rowGroupBytes", 64L * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try {
      val root = Files.createTempDirectory("g_colsplit").toString + "/t"
      val df0 = (0L until 50000L)
        .map(k => (k, 2024, s"payload_padding_$k"))
        .toDF("k", "pt_year", "s").coalesce(1)
      T.commit(spark, root, 0, df0, Seq(2024))
      assert(T.files(root, 0).size === 1)
      def scan = spark.read.format("graft-snapshot")
        .option("root", root).load()
      assert(scan.rdd.getNumPartitions > 1,
        "fixture file must split into byte ranges")
      assert(scan.count() === 50000)
      assert(scan.agg(sum("k")).collect()(0).getLong(0) ===
        (0L until 50000L).sum)
      val off = withColumnarOff(
        scan.agg(sum("k")).collect()(0).getLong(0))
      assert(off === (0L until 50000L).sum)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
      if (prev == null) hconf.unset("graft.snapshot.rowGroupBytes")
      else hconf.set("graft.snapshot.rowGroupBytes", prev)
    }
  }
}
