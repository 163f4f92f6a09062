package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions install the minhash_md5 function builder") {
    // Full session-level behavior (builder.withExtensions) can't be
    // observed on the shared test session (getOrCreate returns the
    // existing one), so exercise the injection hook directly; the SQL
    // semantics of the underlying expression are covered by
    // MinHashMd5Spec's registration test.
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // applying twice must be idempotent-safe (cluster restarts re-apply)
    new GraftExtensions().apply(ext)
  }

  test("extensions inject the constant-select rule; the session-level " +
      "registration adds it once") {
    val spark = graft.etl.TestSpark.spark
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(org.apache.spark.sql.SparkTestBridge.optimizerRules(ext, spark)
      .contains(graft.backend.ConstantSelectToLocalRelation))
    graft.backend.ConstantSelectToLocalRelation.register(spark)
    graft.backend.ConstantSelectToLocalRelation.register(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.backend.ConstantSelectToLocalRelation) === 1)
  }

  test("all native expressions resolve as SQL functions when registered") {
    val spark = graft.etl.TestSpark.spark
    graft.functions.MinHashMd5.register(spark)
    graft.functions.ArrayDotLong.register(spark)
    graft.functions.QuantizeLong.register(spark)
    val r = spark.sql(
      "select minhash_md5(array('a','b'), 2) as mh, " +
      "array_dot_long(array(2L, 3L), array(4L, 5L)) as dot, " +
      "quantize_long(array(cast(1.2345 as float)), 1000) as q")
      .collect().head
    assert(r.getSeq[String](0).length == 2)
    assert(r.getLong(1) == 23L)
    assert(r.getSeq[Long](2) == Seq(1234L) || r.getSeq[Long](2) == Seq(1235L))
  }
}
