package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of write-audit-publish the write_wap_publish data oracle
  * can't state: staged data is INVISIBLE to main until publish, publish
  * moves metadata only (the staged data files' mtimes are untouched and
  * no data file is added or removed), abandon reclaims exactly the
  * branch's own files, and a publish whose parent head has moved on is
  * refused before it can corrupt the version history. */
class WapSpec extends AnyFunSuite {

  private lazy val spark = graft.etl.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  import WriteOps.SnapshotTable

  private def freshTable(): String = {
    val root = Files.createTempDirectory("g_wap_spec").toString + "/t"
    val base = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("pt_year"))
    val years = base.select("pt_year").distinct()
      .collect().map(_.getInt(0)).sorted
    SnapshotTable.commit(spark, root, 0, base, years)
    root
  }

  private def batch97(root: String) =
    SnapshotTable.read(spark, root, 0)
      .filter(col("pt_year") === 1997)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)

  test("staged data is invisible to main; publish is metadata-only") {
    val root = freshTable()
    val mainBefore = SnapshotTable.read(spark, root, 0).count()
    SnapshotTable.stageCommit(spark, root, "ingest",
      batch97(root), Seq(1997))

    // main: same single version, same rows, while the branch reads the
    // staged state
    assert(SnapshotTable.versions(root) === Seq(0))
    assert(SnapshotTable.read(spark, root, 0).count() === mainBefore)
    val br = SnapshotTable.readBranch(spark, root, "ingest")
    assert(br.count() === mainBefore)
    assert(br.filter(col("pt_year") === 1997).count() > 0)

    // publish: zero data movement — every branch data file keeps its
    // mtime and path; only the version manifest appears
    val staged = Files.list(Paths.get(root, "data")).iterator()
    val mtimes = scala.jdk.CollectionConverters
      .IteratorHasAsScala(staged).asScala
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val v1 = SnapshotTable.publishBranch(root, "ingest")
    assert(v1 === 1)
    assert(SnapshotTable.versions(root) === Seq(0, 1))
    mtimes.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(Paths.get(p)) === t,
        s"publish rewrote $p")
    }
    // v1 serves the staged rows
    val v1Total = SnapshotTable.read(spark, root, 1)
      .filter(col("pt_year") === 1997).count()
    assert(v1Total ===
      SnapshotTable.read(spark, root, 0)
        .filter(col("pt_year") === 1997).count())
  }

  test("abandon deletes exactly the branch's files; main untouched") {
    val root = freshTable()
    SnapshotTable.stageCommit(spark, root, "bad",
      batch97(root), Seq(1997))
    val branchFiles = SnapshotTable.readBranch(spark, root, "bad")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .filter(_.contains("/bbad-")).toSeq
    assert(branchFiles.nonEmpty, "no branch-namespaced files staged")
    val v0Files = SnapshotTable.files(root, 0)

    SnapshotTable.abandonBranch(root, "bad")
    branchFiles.foreach(f => assert(
      !Files.exists(Paths.get(f.stripPrefix("file:"))),
      s"abandon left $f"))
    v0Files.foreach(f => assert(Files.exists(Paths.get(f)),
      s"abandon deleted main's $f"))
    assert(SnapshotTable.versions(root) === Seq(0))
    intercept[IllegalArgumentException] {
      SnapshotTable.readBranch(spark, root, "bad")
    }
  }

  test("a publish whose parent head moved on is refused") {
    val root = freshTable()
    SnapshotTable.stageCommit(spark, root, "late",
      batch97(root), Seq(1997))
    // a regular commit advances main underneath the branch
    val kept96 = SnapshotTable.read(spark, root, 0)
      .filter(col("pt_year") === 1996 && col("o_orderkey") % 2 === 0)
    SnapshotTable.commit(spark, root, 1, kept96, Seq(1996))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.publishBranch(root, "late")
    }
    assert(ex.getMessage.contains("restage"))
    // history is intact and the branch is still staged for a restage
    assert(SnapshotTable.versions(root) === Seq(0, 1))
    assert(SnapshotTable.readBranch(spark, root, "late").count() > 0)
  }

  test("re-staging a published branch name never disturbs the " +
      "published files; its abandon deletes only the new staging") {
    val root = freshTable()
    SnapshotTable.stageCommit(spark, root, "ingest",
      batch97(root), Seq(1997))
    val v1 = SnapshotTable.publishBranch(root, "ingest")
    val v1Files = SnapshotTable.files(root, v1)
    val v1Bytes = v1Files.map(f => Files.size(Paths.get(f))).toSeq

    // same branch name stages AGAIN on the new head — per-staging
    // token ⇒ brand-new file names, no rename over committed bytes
    val batch2 = SnapshotTable.read(spark, root, v1)
      .filter(col("pt_year") === 1997)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    SnapshotTable.stageCommit(spark, root, "ingest", batch2, Seq(1997))
    v1Files.zip(v1Bytes).foreach { case (f, b) =>
      assert(Files.exists(Paths.get(f)) && Files.size(Paths.get(f)) == b,
        s"re-stage disturbed published file $f")
    }

    // abandon deletes only the SECOND staging's recorded-fresh files:
    // v1 (which includes the first staging's published files) still
    // reads back byte-identical
    val v1Count = SnapshotTable.read(spark, root, v1).count()
    SnapshotTable.abandonBranch(root, "ingest")
    v1Files.foreach(f => assert(Files.exists(Paths.get(f)),
      s"abandon of the re-staged branch deleted published file $f"))
    assert(SnapshotTable.read(spark, root, v1).count() === v1Count)
    assert(SnapshotTable.versions(root) === Seq(0, 1))
  }

  test("snapshot table works through a scheme-full file:/// root " +
      "(the Hadoop FileSystem substrate)") {
    val dir = Files.createTempDirectory("g_wap_uri").toString
    val root = "file://" + dir + "/t"
    val base = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("pt_year"))
    val years = base.select("pt_year").distinct()
      .collect().map(_.getInt(0)).sorted
    SnapshotTable.commit(spark, root, 0, base.repartition(4), years,
      distribute = false)
    assert(SnapshotTable.versions(root) === Seq(0))
    val n0 = SnapshotTable.read(spark, root, 0).count()
    assert(n0 === base.count())

    // full lifecycle through the URI root: optimize, branch
    // stage/audit/publish, vacuum
    assert(SnapshotTable.optimize(spark, root, 1).nonEmpty)
    SnapshotTable.stageCommit(spark, root, "uri-branch",
      SnapshotTable.read(spark, root, 1).filter(col("pt_year") === 1997)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq(1997))
    assert(SnapshotTable.readBranch(spark, root, "uri-branch")
      .count() === n0)
    val v2 = SnapshotTable.publishBranch(root, "uri-branch")
    assert(v2 === 2)
    assert(SnapshotTable.read(spark, root, v2).count() === n0)
    SnapshotTable.vacuum(root, retain = 1)
    assertThrows[IllegalArgumentException](
      SnapshotTable.read(spark, root, 0))
    assert(SnapshotTable.read(spark, root, v2).count() === n0)
  }

  test("WAP × drift audit: the clean arm publishes, the drifted arm " +
      "is abandoned, and head lands exactly on the published version") {
    val out = WriteOps.queries("write_wap_drift_gate")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap

    // the audit rows carry the decision the pipeline acted on
    val clean = out("audit_clean")
    val drifted = out("audit_drifted")
    assert(!clean.getBoolean(clean.fieldIndex("drifted")))
    assert(drifted.getBoolean(drifted.fieldIndex("drifted")))
    assert(clean.getDouble(clean.fieldIndex("chi2")) < 103.0)
    assert(drifted.getDouble(drifted.fieldIndex("chi2")) > 103.0)

    // head == the published clean version, row for row (the abandoned
    // reprice left no trace)
    val byVer = WriteOps.queries("write_wap_drift_gate")(spark, sf)
      .collect()
      .filter(r => r.getString(0).startsWith("v1") ||
        r.getString(0).startsWith("head"))
      .groupBy(_.getString(0))
      .map { case (v, rows) =>
        v -> rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getLong(5))).toSet }
    assert(byVer("head_post_abandon") === byVer("v1_published"))
    // and the clean publish actually changed the table vs v0: sum_cust
    // moved by exactly one per 1997 row
    val all = WriteOps.queries("write_wap_drift_gate")(spark, sf)
      .collect().filter(r => !r.isNullAt(5))
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    val (cnt97, cust0) = all(("v0", 1997))
    val (_, cust1) = all(("v1_published", 1997))
    assert(cust1 === cust0 + cnt97,
      "published attribute fix did not land in head")
  }

  test("double-stage on one branch name is refused") {
    val root = freshTable()
    SnapshotTable.stageCommit(spark, root, "once",
      batch97(root), Seq(1997))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.stageCommit(spark, root, "once",
        batch97(root), Seq(1997))
    }
    assert(ex.getMessage.contains("already staged"))
  }
}
