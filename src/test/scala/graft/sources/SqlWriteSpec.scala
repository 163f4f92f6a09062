package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkTestBridge.drainListeners
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.IoCountingFs
import graft.operators.WriteOps.SnapshotTable

/** The SQL batch write ([[SnapshotWrite]]) in its four scopes: empty
  * writes, the overwrite-scope refusal, lost version races driven one
  * step at a time (a race loser re-publishes its files when every
  * winner only appended, and fails loudly when a winner touched a year
  * it replaces), and the Spark jobs an INSERT costs. */
class SqlWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_sqlwrite_cat").toString
    val name = "gwr_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def dataFiles(root: String): Set[String] =
    Option(Paths.get(root, "data").toFile.list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).toSet

  private def rows(cat: String, t: String): Set[(Long, Int, Double)] =
    spark.sql(s"SELECT o_orderkey, pt_year, o_totalprice FROM $cat.$t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet

  /** The table at `base/t` as SQL loads it: the head read now. */
  private def load(base: String, t: String) = {
    val c = new SnapshotCatalog
    c.initialize("w", new CaseInsensitiveStringMap(
      Map("base" -> base).asJava))
    c.loadTable(Identifier.of(Array.empty, t))
      .asInstanceOf[SnapshotSourceTable]
  }

  /** A write built as Spark builds it, its rows written through its
    * own factory's writer (one task): returns the write and the task's
    * commit message, nothing committed yet. */
  private def written(table: SnapshotSourceTable,
      scope: String, rows: (Long, Int, Double)*)
      : (BatchWrite, Array[WriterCommitMessage]) = {
    val info = new LogicalWriteInfo {
      override def queryId(): String = "q"
      override def schema() = table.schema()
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val b = table.newWriteBuilder(info)
    val built = scope match {
      case "append" => b
      case "dynamic" =>
        b.asInstanceOf[SupportsDynamicOverwrite].overwriteDynamicPartitions()
      case year => b.asInstanceOf[SupportsOverwrite]
        .overwrite(Array[Filter](EqualTo("pt_year", year.toInt)))
    }
    val w = built.build().toBatch
    val task = w.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).createWriter(0, 0L)
    rows.foreach { case (k, y, v) => task.write(InternalRow(k, y, v)) }
    (w, Array(task.commit()))
  }

  private def filesOf(m: Array[WriterCommitMessage]): Seq[String] =
    SnapshotFilesMsg.filesOf(m).map(_._2.path)

  test("an empty INSERT INTO commits nothing; an empty INSERT OVERWRITE " +
      "PARTITION empties its year in one commit") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM $cat.t WHERE false")
    assert(T.versions(root) === Seq(0), "an empty append burned a version")
    spark.sql(s"INSERT OVERWRITE $cat.t PARTITION (pt_year = 2) " +
      s"SELECT o_orderkey, o_totalprice FROM $cat.t WHERE false")
    assert(T.versions(root) === Seq(0, 1))
    assert(rows(cat, "t") === Set((1L, 1, 10.0)))
    assert(T.pointers(root, 1).keySet === Set(1))
  }

  test("an overwrite refuses a row outside its pt_year scope: no version, " +
      "no file left under data/") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    val before = dataFiles(root)
    val e = intercept[Exception](
      frame((7L, 2, 70.0), (8L, 1, 80.0)).writeTo(s"$cat.t")
        .overwrite(col("pt_year") === 2))
    assert(messages(e).exists(_.contains("outside the overwrite scope")),
      s"wanted the scope refusal, got: ${messages(e)}")
    assert(T.versions(root) === Seq(0))
    assert(dataFiles(root) === before, "the refused write left its files")
    assert(rows(cat, "t") === Set((1L, 1, 10.0), (2L, 2, 20.0)))
  }

  test("two racing appends into one year both land, each data file " +
      "created once") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0)), Seq(1))
    val conf = spark.sparkContext.hadoopConfiguration
    IoCountingFs.clear()
    conf.set("fs.file.impl", classOf[IoCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val (aMsg, bMsg) =
      try {
        // both planned on v0; b publishes first, a loses v1
        val (a, aMsg) = written(load(base, "t"), "append", (2L, 1, 20.0))
        val (b, bMsg) = written(load(base, "t"), "append", (3L, 1, 30.0))
        b.commit(bMsg)
        a.commit(aMsg)
        (aMsg, bMsg)
      } finally {
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(T.versions(root) === Seq(0, 1, 2))
    assert(rows(cat, "t") ===
      Set((1L, 1, 10.0), (2L, 1, 20.0), (3L, 1, 30.0)))
    // the loser re-published the file its task wrote
    assert(filesOf(aMsg).toSet.subsetOf(T.files(root, 2).toSet))
    assert(filesOf(bMsg).toSet.subsetOf(T.files(root, 1).toSet))
    def local(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val created = IoCountingFs.made.asScala.toSeq.map(local)
      .filter(p => p.startsWith(local(s"$root/data/")) &&
        p.endsWith(".parquet"))
    assert(created.sorted === (filesOf(aMsg) ++ filesOf(bMsg)).map(local)
      .sorted, s"data files created: $created")
  }

  Seq("static" -> "1", "dynamic" -> "dynamic").foreach {
    case (kind, scope) =>
      test(s"a self-reading $kind overwrite that loses to an append into " +
          "its year fails loudly and publishes nothing") {
        val (cat, base) = freshCatalog()
        val root = s"$base/t"
        T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)),
          Seq(1, 2))
        val table = load(base, "t")
        // the overwrite's rows: year 1 as read at v0, doubled
        val read = spark.sql(s"SELECT o_orderkey, pt_year, o_totalprice " +
          s"FROM $cat.t WHERE pt_year = 1").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2) * 2))
        val (w, msg) = written(table, scope, read.toIndexedSeq: _*)
        T.commitAppend(spark, root, 1, frame((5L, 1, 50.0)))
        val e = intercept[IllegalStateException](w.commit(msg))
        assert(e.getMessage.contains("conflict: version"))
        w.abort(msg)
        assert(T.versions(root) === Seq(0, 1))
        assert(rows(cat, "t") ===
          Set((1L, 1, 10.0), (2L, 2, 20.0), (5L, 1, 50.0)),
          "the appended row was lost")
        assert(filesOf(msg).forall(p => !Files.exists(Paths.get(p))),
          "the loser's files were not reclaimed")
      }
  }

  test("an overwrite re-publishes over an append into a year it does not " +
      "replace") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    val (w, msg) = written(load(base, "t"), "1", (7L, 1, 70.0))
    T.commitAppend(spark, root, 1, frame((5L, 2, 50.0)))
    w.commit(msg)
    assert(T.versions(root) === Seq(0, 1, 2))
    assert(rows(cat, "t") === Set((7L, 1, 70.0), (2L, 2, 20.0),
      (5L, 2, 50.0)))
  }

  test("a 20-row INSERT INTO and a static INSERT OVERWRITE PARTITION run " +
      "only their write's jobs: no collect, no checkpoint") {
    val (cat, base) = freshCatalog()
    val root = s"$base/t"
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    frame((1 to 20).map(i => (100L + i, 1 + i % 3, i * 1.0)): _*)
      .createOrReplaceTempView("wr_batch")
    def jobs(statement: String): Seq[String] = {
      val seen = new ConcurrentLinkedQueue[String]
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          seen.add(e.stageInfos.map(_.name).mkString(";"))
      }
      drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        spark.sql(statement)
        drainListeners(spark.sparkContext)
        seen.asScala.toSeq
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val insert = jobs(s"INSERT INTO $cat.t SELECT * FROM wr_batch")
    val overwrite = jobs(s"INSERT OVERWRITE $cat.t PARTITION (pt_year = 2) " +
      "SELECT o_orderkey, o_totalprice FROM wr_batch WHERE pt_year = 2")
    Seq(insert, overwrite).flatten.foreach { stages =>
      assert(!stages.contains("collect") && !stages.contains("heckpoint"),
        s"a job outside the write: $stages")
    }
    assert(insert.size === 2, s"INSERT INTO jobs: $insert")
    assert(overwrite.size === 2, s"INSERT OVERWRITE jobs: $overwrite")
    assert(T.versions(root) === Seq(0, 1, 2))
    // 2 + 20 rows, year 2's 8 replaced by the batch's 7
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect().head
      .getLong(0) === 21)
  }
}
