package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{GoldenDataTester, TestSpark}

class SqlTestSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The reference project's sample workbook and the ETL it tests. */
  private val workbookFiles = Seq("sample_etl.spark.xlsx", "sample_etl.spark.sql")
    .map(f => Paths.get("/root/reference/test", f))

  /** Cancels the calling test unless the reference workbook is present. */
  private def assumeWorkbook(): Unit = workbookFiles.foreach { p =>
    assume(Files.isRegularFile(p), s"$p is absent")
  }

  private lazy val stage: String = {
    val dir = Files.createTempDirectory("graft_sqltest").toString
    workbookFiles.foreach { p =>
      Files.copy(p, Paths.get(dir, p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }

  test("run-test passes on the reference workbook, exit code 0") {
    assumeWorkbook()
    spark.sql("create database if not exists sample")
    spark.sql("drop table if exists sample.test")
    val code = SqlTest.runTest(
      Seq(s"$stage/sample_etl.spark.xlsx"), Some(spark))
    assert(code == 0)
  }

  test("run-test exit code 1 on a failing json case") {
    val bad = Files.createTempDirectory("graft_sqltest_bad").resolve("bad.json")
    Files.writeString(bad, """
{ "name": "fails",
  "sql_file_content": "-- target=temp.r\nselect 1 as x\n-- target=output.db.o\nselect * from r",
  "vars": {"__create_output_table__": "true"},
  "inputs": [],
  "outputs": [{ "columns": ["x"], "column_types": ["int"],
                "name": "db.o", "values": [[2]] }]
}""")
    assert(SqlTest.runTest(Seq(bad.toString), Some(spark)) == 1)
  }

  test("convert-json round-trips the workbook through the JSON parser") {
    assumeWorkbook()
    SqlTest.convertJson(Seq(s"$stage/sample_etl.spark.xlsx"))
    val jsonPath = s"$stage/sample_etl.spark.json"
    assert(Files.exists(Paths.get(jsonPath)))
    val json = Files.readString(Paths.get(jsonPath))
    val cases = GoldenDataTester.parseCases(json,
      sqlByPath = Map("sample_etl.spark.sql" ->
        Files.readString(Paths.get(stage, "sample_etl.spark.sql"))))
    assert(cases.length == 1)
    val c = cases.head
    assert(c.name == "test for sample etl")
    assert(c.inputs.head.columns == Seq("id", "val"))
    assert(c.outputs.head.values.length == 2)

    // and the converted file runs green end-to-end
    spark.sql("create database if not exists sample")
    spark.sql("drop table if exists sample.test")
    assert(SqlTest.runTest(Seq(jsonPath), Some(spark)) == 0)
  }
}
