package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** SQL and the DataFrame read API
  * ([[graft.operators.WriteOps.SnapshotTable.read]] and its siblings)
  * reach a snapshot version through the one connector scan: on one
  * table carrying every reader-visible history shape at once they must
  * return identical rows, and every DataFrame read must plan that
  * scan. */
class ScanParitySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  test("connector scan == SnapshotTable.read over ADD COLUMN, " +
      "widening, RENAME, a pending DV and a split file") {
    import spark.implicits._
    val base = Files.createTempDirectory("g_parity").toString
    val cat = "gpar_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("graft.snapshot.rowGroupBytes")
    hconf.setLong("graft.snapshot.rowGroupBytes", 32L * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try {
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, pt_year INT, i INT, " +
        "f FLOAT, s STRING) TBLPROPERTIES ('rowKey' = 'k')")
      val root = s"$base/t"
      // the pre-evolution generation: one file of many row groups
      T.commitAppend(spark, root, 1, (0L until 20000L).map { k =>
        (k, 2024, (k % 1000).toInt, (k % 13).toFloat,
          if (k % 9 == 0) null else s"s_$k")
      }.toDF("k", "pt_year", "i", "f", "s").coalesce(1))
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra DOUBLE")
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN i TYPE BIGINT")
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN f TYPE DOUBLE")
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN s TO s2")
      spark.sql(s"INSERT INTO $cat.t VALUES " +
        "(30000, 2025, 3000000000, 0.25, 'new', 1.5), " +
        "(30001, 2025, -5, NULL, NULL, NULL)")
      // not v1-translatable → merge-on-read tombstones, left pending
      spark.sql(s"DELETE FROM $cat.t WHERE k % 7 = 3")
      val v = T.versions(root).max
      assert(T.dvOf(root, v).isDefined, "fixture needs a pending DV")
      assert(T.files(root, v).size === 2)

      val cols = Seq("k", "pt_year", "i", "f", "s2", "extra").map(col)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(cols: _*).collect().map(_.mkString("|")).sorted.toSeq
      val scan = spark.table(s"$cat.t")
      assert(scan.rdd.getNumPartitions > 2,
        "the large file must split into byte ranges")
      val expected = rows(T.read(spark, root, v))
      assert(expected.size === 20002 - (0 until 20000).count(_ % 7 == 3))
      assert(rows(scan) === expected)
      assert(ScanMetrics.withConf(spark,
        "spark.sql.parquet.enableVectorizedReader", "false")(
        rows(spark.table(s"$cat.t"))) === expected)
      // a projection without the key or pt_year still drops tombstoned
      // rows, and renamed data reads through the alias
      assert(spark.sql(s"SELECT s2 FROM $cat.t").collect()
        .map(r => Option(r.getString(0)).getOrElse("null")).sorted.toSeq ===
        expected.map(_.split('|')(4)).sorted)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
      if (prev == null) hconf.unset("graft.snapshot.rowGroupBytes")
      else hconf.set("graft.snapshot.rowGroupBytes", prev)
    }
  }

  test("every DataFrame read API plans the connector scan: tombstones " +
      "and a RENAME apply, no BroadcastExchange") {
    import spark.implicits._
    val base = Files.createTempDirectory("g_read_apis").toString
    val cat = "gapi_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    val root = s"$base/t"
    T.commit(spark, root, 0, Seq((1L, 1, 10.0), (2L, 1, 20.0),
      (3L, 2, 30.0), (4L, 2, 40.0)).toDF("k", "pt_year", "v"), Seq(1, 2))
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    T.commitDelete(spark, root, 2, "k", Seq((2L, 1)).toDF("k", "pt_year"))
    T.stageCommit(spark, root, "audit",
      Seq((5L, 3, 50.0)).toDF("k", "pt_year", "w"), Seq(3))

    def plansScan(api: String, df: DataFrame): Seq[(Long, Double)] = {
      val got = df.select("k", "w").as[(Long, Double)].collect()
        .sortBy(_._1).toSeq
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) { case b: BatchScanExec => b }
      assert(scans.nonEmpty &&
        scans.forall(_.scan.description.startsWith("graft-snapshot")),
        s"$api did not plan the connector scan:\n$plan")
      assert(collectWithSubqueries(plan) {
        case e: BroadcastExchangeExec => e
      }.isEmpty, s"$api planned a broadcast:\n$plan")
      got
    }
    val all = Seq((1L, 10.0), (3L, 30.0), (4L, 40.0))
    assert(plansScan("read", T.read(spark, root, 2)) === all)
    assert(plansScan("readPartitions",
      T.readPartitions(spark, root, 2, Seq(1))) === Seq((1L, 10.0)))
    assert(plansScan("readFiles", T.readFiles(spark, root, T.top(root, 2),
      T.partitionStatEntries(root, 2, Seq(1)))) === Seq((1L, 10.0)))
    assert(plansScan("readRange",
      T.readRange(spark, root, 2, "k", 2L, 3L)) === Seq((3L, 30.0)))
    assert(plansScan("readWhere", T.readWhere(spark, root, 2,
      Seq(("k", 1L, null), ("w", null, 35.0)))) ===
      Seq((1L, 10.0), (3L, 30.0)))
    assert(plansScan("readBranch", T.readBranch(spark, root, "audit")) ===
      all :+ ((5L, 50.0)))
  }
}
