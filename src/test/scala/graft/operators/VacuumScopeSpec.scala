package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark

/** Vacuum's ROOT-CONTAINMENT contract (the r12 advisor's HIGH): a
  * shallow clone's manifests carry absolute pointers into the SOURCE
  * table's root, and a clone-side vacuum must never reclaim them —
  * Delta scopes vacuum to files under the table root for the same
  * reason. Also pins the deletion-vector orphan reclaim: a sidecar dir
  * referenced by NO version (a commit race loser's leftover) is
  * garbage-collected only past an age horizon, so vacuum can never
  * race an in-flight delete-commit's just-written sidecar. */
class VacuumScopeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = WriteOps.SnapshotTable

  private def frame(rows: (Long, Int, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("o_orderkey", "pt_year", "o_totalprice")
  }

  test("vacuuming a shallow clone never reclaims the source's files") {
    val src = Files.createTempDirectory("g_vscope_src").toString
    val dst = Files.createTempDirectory("g_vscope_dst").toString + "/t"
    T.commit(spark, src, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    T.shallowClone(src, dst)
    // the advisor's exact scenario: the clone rewrites partition 1,
    // then vacuums itself down to retain=1 — expiring clone v0, whose
    // pointers are the SOURCE's m-files and data files verbatim
    T.commit(spark, dst, 1, frame((1L, 1, 11.0)), Seq(1))
    T.vacuum(dst, retain = 1)
    // the source head still reads every row from its original files
    assert(T.files(src, 0).forall(f => Files.exists(Paths.get(f))),
      "clone-side vacuum deleted source data files")
    assert(T.read(spark, src, 0).count() === 2)
    // and the clone head still reads: its carried partition-2 pointer
    // resolves the source's file in place
    assert(T.read(spark, dst, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toSet ===
      Set(1L -> 11.0, 2L -> 20.0))
  }

  test("vacuum still reclaims the clone's OWN expired files") {
    val src = Files.createTempDirectory("g_vscope_own_src").toString
    val dst = Files.createTempDirectory("g_vscope_own_dst").toString + "/t"
    T.commit(spark, src, 0, frame((1L, 1, 10.0)), Seq(1))
    T.shallowClone(src, dst)
    T.commit(spark, dst, 1, frame((1L, 1, 11.0)), Seq(1)) // clone's file A
    T.commit(spark, dst, 2, frame((1L, 1, 12.0)), Seq(1)) // clone's file B
    val deadOwn = T.files(dst, 1).filterNot(T.files(dst, 2).contains)
    assert(deadOwn.nonEmpty && deadOwn.forall(_.contains("/t/")))
    T.vacuum(dst, retain = 1)
    assert(deadOwn.forall(f => !Files.exists(Paths.get(f))),
      "containment must not stop the clone reclaiming its own files")
    assert(T.read(spark, dst, 2).collect().head.getDouble(2) === 12.0)
    assert(T.read(spark, src, 0).count() === 1)
  }

  test("aged orphan sidecars are reclaimed; young or referenced ones never") {
    val root = Files.createTempDirectory("g_vscope_orphan").toString
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 1, 20.0)), Seq(1))
    T.commitDelete(spark, root, 1, "o_orderkey",
      frame((1L, 1, 0.0)).select("o_orderkey", "pt_year"))
    val live = Paths.get(T.dvOf(root, 1).get.entries.head.dir)
    // a race loser's leftover: a sidecar dir referenced by NO version
    val orphan = Paths.get(root, "_dv", "v9-loser00")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-x.parquet"), "junk")
    // young orphan: inside the horizon it could be an IN-FLIGHT
    // delete-commit whose manifest hasn't published — must survive
    T.vacuum(root, retain = 2)
    assert(Files.exists(orphan) && Files.exists(live))
    // aged out: reclaimed; the referenced sidecar still never dies
    val saved = T.dvOrphanHorizonMs
    try {
      T.dvOrphanHorizonMs = -1L
      T.vacuum(root, retain = 2)
      assert(!Files.exists(orphan), "aged orphan sidecar not reclaimed")
      assert(Files.exists(live), "referenced sidecar reclaimed")
    } finally T.dvOrphanHorizonMs = saved
    assert(T.read(spark, root, 1).collect().map(_.getLong(0)).toSet ===
      Set(2L))
  }

  test("vacuum opens each top manifest and each partition manifest once") {
    val root = Files.createTempDirectory("g_vscope_opens").toString
    // year 2's partition manifest is shared by every version
    T.commit(spark, root, 0, frame((1L, 1, 10.0), (2L, 2, 20.0)), Seq(1, 2))
    (1 to 4).foreach(v =>
      T.commit(spark, root, v, frame((1L, 1, 10.0 + v)), Seq(1)))
    val kept = (2 to 4).flatMap(T.pointers(root, _).values).toSet
    val dead = (0 to 1).flatMap(T.pointers(root, _).values).toSet -- kept
    val tops = (0 to 4).map(v => s"$root/_manifests/v$v.txt")
    def local(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val want = (tops ++ kept ++ dead).map(local).sorted
    assert(kept.size === 4 && dead.size === 2)
    val conf = spark.sparkContext.hadoopConfiguration
    OpenCountingFs.opened.clear()
    conf.set("fs.file.impl", classOf[OpenCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try T.vacuum(root, retain = 3)
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    val opened = OpenCountingFs.opened.toArray(Array.empty[String])
      .toSeq.map(local).sorted
    assert(opened === want)
    assert(T.versions(root) === Seq(2, 3, 4))
    assert(T.read(spark, root, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toSet ===
      Set(1L -> 14.0, 2L -> 20.0))
  }
}

/** The local filesystem, recording every path it opens. */
class OpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenCountingFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]
}
