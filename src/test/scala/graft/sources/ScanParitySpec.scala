package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** The connector scan and the DataFrame read path
  * ([[graft.operators.WriteOps.SnapshotTable.read]]) are two routes to
  * the same rows: on one table carrying every reader-visible history
  * shape at once they must return identical rows. */
class ScanParitySpec extends AnyFunSuite {

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
}
