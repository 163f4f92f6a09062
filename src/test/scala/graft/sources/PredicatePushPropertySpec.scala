package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** PROPERTY test for parquet predicate pushdown soundness: over one
  * mixed-shape fixture (several row groups, nulls, NaN, negative and
  * boundary values, strings with non-ASCII bytes, a pre-evolution
  * file), a seeded battery of random conjunctive range/equality/null
  * predicates must return BIT-IDENTICAL results with pushdown ON and
  * OFF. This is the contract the whole layer rests on: parquet may
  * only drop rows that cannot match, Spark's residual does the exact
  * semantics. */
class PredicatePushPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fixture(): String = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("graft.snapshot.rowGroupBytes")
    hconf.setLong("graft.snapshot.rowGroupBytes", 16L * 1024)
    try {
      val root = Files.createTempDirectory("g_predprop").toString
      val rnd = new scala.util.Random(42)
      val rows = (0 until 4000).map { i =>
        val k = rnd.nextLong() % 1000
        val v: java.lang.Double =
          if (i % 97 == 0) null
          else if (i % 131 == 0) Double.NaN
          else rnd.nextDouble() * 200 - 100
        val s: String =
          if (i % 53 == 0) null
          else if (i % 7 == 0) s"é_${rnd.nextInt(50)}"
          else s"w${rnd.nextInt(100)}"
        (k, 1 + (i % 2), v, s)
      }
      val df = rows.toDF("k", "pt_year", "v", "s").sort("k").coalesce(1)
      T.commit(spark, root, 0, df, Seq(1, 2))
      // a pre-evolution generation: lacks s and v entirely
      T.commitAppend(spark, root, 1,
        (0 until 50).map(i => (i * 37L, 1)).toDF("k", "pt_year"))
      root
    } finally {
      if (prev == null) hconf.unset("graft.snapshot.rowGroupBytes")
      else hconf.set("graft.snapshot.rowGroupBytes", prev)
    }
  }

  test("random conjunctive predicates: pushdown ON == OFF, always") {
    val root = fixture()
    def table = spark.read.format("graft-snapshot")
      .option("root", root).load()
    val rnd = new scala.util.Random(7)

    def randomPredicate(): org.apache.spark.sql.Column = {
      def one(): org.apache.spark.sql.Column = rnd.nextInt(8) match {
        case 0 => col("k") >= (rnd.nextLong() % 1200)
        case 1 => col("k") <= (rnd.nextLong() % 1200)
        case 2 => col("k") === (rnd.nextLong() % 1000)
        case 3 => col("v") > (rnd.nextDouble() * 220 - 110)
        case 4 => col("v") <= (rnd.nextDouble() * 220 - 110)
        case 5 => col("s") >= s"w${rnd.nextInt(120)}"
        case 6 => col("s").isNull
        case 7 => col("v").isNotNull
      }
      (1 to 1 + rnd.nextInt(3)).map(_ => one()).reduce(_ && _)
    }

    def run(p: org.apache.spark.sql.Column): Seq[String] =
      table.filter(p)
        .select(col("k"), col("pt_year"), col("v"), col("s"))
        .collect()
        .map(r => (0 until 4).map(i =>
          if (r.isNullAt(i)) "null" else r.get(i).toString)
          .mkString("|"))
        .sorted.toSeq

    (1 to 40).foreach { trial =>
      val p = randomPredicate()
      val on = run(p)
      val off = ScanMetrics.withConf(spark,
        "spark.sql.parquet.filterPushdown", "false")(run(p))
      assert(on === off,
        s"trial $trial diverged for predicate $p: " +
        s"on=${on.size} rows, off=${off.size} rows")
    }
  }
}
