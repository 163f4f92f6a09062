package graft.etl

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The reference's NATIVE xlsx fixture format, read directly from the
  * reference's own test workbooks — a reference user's spreadsheets
  * run unmodified. These workbooks belong to the reference project and
  * are not part of this repository: each case needs them under
  * `/root/reference/test` and cancels, naming the missing file, where
  * they are absent.
  */
class XlsxCasesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Cancels the calling test unless each named reference file is present. */
  private def assumeReference(names: String*): Unit = names.foreach { n =>
    val p = Paths.get("/root/reference/test", n)
    assume(Files.isRegularFile(p), s"$p is absent")
  }

  private val sampleWorkbook = Seq("sample_etl.spark.xlsx", "sample_etl.spark.sql")

  test("sample_etl.spark.xlsx parses to the documented case shape") {
    assumeReference(sampleWorkbook: _*)
    val cases = XlsxCases.parseFile(
      "/root/reference/test/sample_etl.spark.xlsx")
    assert(cases.length == 1)
    val c = cases.head
    assert(c.name == "test for sample etl")
    assert(c.inputs.map(_.name) == Seq("sample.test"))
    val in = c.inputs.head
    assert(in.columns == Seq("id", "val"))
    assert(in.columnTypes == Seq("int", "string")) // default type string
    assert(in.values == Seq(Seq("1", "1")))
    val out = c.outputs.head
    assert(out.name == "sample.result")
    assert(out.values == Seq(Seq("1", "1"), Seq("1", "2")))
    assert(c.sql.contains("target=output.sample.result"))
  }

  test("sample_etl.spark.xlsx runs end-to-end and passes") {
    assumeReference(sampleWorkbook: _*)
    spark.sql("create database if not exists sample")
    spark.sql("drop table if exists sample.test")
    val results = GoldenDataTester.runCasesFromFile(spark,
      "/root/reference/test/sample_etl.spark.xlsx", "/root/reference/test")
    assert(results.nonEmpty)
    assert(results.forall(_.passed),
      results.flatMap(_.failures).mkString("; "))
  }

  test("etl_test.xlsx template: suits, serial dates, includes, typed cols") {
    assumeReference("etl_test.xlsx")
    val cases = XlsxCases.parseFile("/root/reference/test/etl_test.xlsx",
      sqlOverride = Some("-- unused"))
    // two suit sheets x two cases each
    assert(cases.length == 4)
    assert(cases.map(_.name).distinct.sorted == Seq(
      "A test for ETL abc.sql", "Another test for ETL abc.sql"))
    val c = cases.head
    // Excel day serial 44511 (epoch 1899-12-30) -> 2021-11-11
    assert(c.vars("DATA_DATE") == "2021-11-11")
    assert(c.vars("VAR1") == "var1_value")
    assert(c.includes.keySet == Set("snippets/common_snippet.sql"))
    assert(c.includes.values.head.contains("target=temp.some_temp_table"))
    val in = c.inputs.find(_.name == "some_mock_table").get
    assert(in.columns == Seq("col1", "col2", "col3"))
    assert(in.columnTypes == Seq("string", "string", "int"))
    // every INPUT row must carry a description; rows without are dropped
    assert(in.values.nonEmpty)
  }
}
