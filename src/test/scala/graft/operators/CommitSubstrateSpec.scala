package graft.operators

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** The atomic-publish substrate seam (Delta's LogStore split, enforced):
  * rename-atomic filesystems get rename-no-replace, object stores get
  * put-if-absent ONLY by explicit opt-in, and anything else refuses
  * loudly — a silently-replacing rename must never reach the commit
  * log. */
class CommitSubstrateSpec extends AnyFunSuite {

  private val T = WriteOps.SnapshotTable

  test("rename-atomic schemes route to the rename substrate") {
    assert(T.substrateFor("hdfs") eq T.RenameSubstrate)
    assert(T.substrateFor("file") eq T.RenameSubstrate)
    assert(T.substrateFor("viewfs") eq T.RenameSubstrate)
    assert(T.substrateFor(null) eq T.RenameSubstrate) // schemeless local
  }

  test("an object-store scheme without the opt-in refuses loudly") {
    Seq("s3a", "gs", "abfs", "wasb", "oss").foreach { s =>
      val e = intercept[UnsupportedOperationException](T.substrateFor(s))
      assert(e.getMessage.contains("atomic publish"))
      assert(e.getMessage.contains("PUTIFABSENT"),
        "the refusal must carry the opt-in instructions")
    }
  }

  test("opted-in schemes get put-if-absent, whose publish REFUSES an " +
      "existing destination even where rename would silently replace") {
    sys.props("graft.putifabsent.schemes") = "s3a, gs"
    try {
      val sub = T.substrateFor("s3a")
      assert(sub eq T.PutIfAbsentSubstrate)
      assert(T.substrateFor("gs") eq T.PutIfAbsentSubstrate)
      // drive the substrate on the LOCAL filesystem — exactly the
      // substrate whose rename() silently replaces — and prove the
      // publish path refuses instead of clobbering the winner
      val dir = Files.createTempDirectory("g_substrate")
      val fs = FileSystem.getLocal(new Configuration())
      def put(name: String, body: String): HPath = {
        val p = new HPath(dir.resolve(name).toString)
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val staged = put("staged", "loser bytes")
      val committed = put("committed", "winner bytes")
      intercept[java.nio.file.FileAlreadyExistsException](
        sub.publishNoReplace(fs, staged, committed))
      val in = fs.open(committed)
      val kept =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(kept === "winner bytes", "the loser overwrote the winner")
      // and a fresh destination publishes, consuming the staged file
      val fresh = new HPath(dir.resolve("fresh").toString)
      sub.publishNoReplace(fs, staged, fresh)
      val in2 = fs.open(fresh)
      val got =
        try scala.io.Source.fromInputStream(in2, "UTF-8").mkString
        finally in2.close()
      assert(got === "loser bytes")
      assert(!fs.exists(staged), "staged source must be consumed")
    } finally sys.props -= "graft.putifabsent.schemes"
  }

  test("put-if-absent surfaces transient store failures instead of " +
      "misreporting them as a lost commit race") {
    sys.props("graft.putifabsent.schemes") = "s3a"
    try {
      val sub = T.substrateFor("s3a")
      val dir = Files.createTempDirectory("g_substrate_err")
      val real = FileSystem.getLocal(new Configuration())
      val staged = new HPath(dir.resolve("staged").toString)
      val out = real.create(staged, true)
      try out.write("bytes".getBytes("UTF-8")) finally out.close()
      // a store whose create() fails TRANSIENTLY (network) — a genuine
      // store error, not a conditional-put conflict: the caller's
      // rebase-retry loop must SEE it, not spin 4 times against a
      // broken store on a bogus "lost the race" diagnosis
      val fs = new org.apache.hadoop.fs.FilterFileSystem(real) {
        override def create(p: HPath, overwrite: Boolean)
            : org.apache.hadoop.fs.FSDataOutputStream =
          throw new java.io.IOException("connection reset by peer")
      }
      val dst = new HPath(dir.resolve("fresh_dst").toString)
      val e = intercept[java.io.IOException](
        sub.publishNoReplace(fs, staged, dst))
      assert(!e.isInstanceOf[java.nio.file.FileAlreadyExistsException],
        s"store error misreported as a commit-race loss: $e")
      assert(e.getMessage.contains("connection reset"))
    } finally sys.props -= "graft.putifabsent.schemes"
  }

  test("rename substrate translates a cross-process rename loss into " +
      "the commit-race loser's signal") {
    // two DRIVERS racing on HDFS: both pass the exists() check (the
    // JVM lock covers one process only); the NameNode fails the
    // loser's rename with `false`. Simulate with a stub fs whose
    // exists() lies once — the re-check must classify the loss as
    // FileAlreadyExistsException so isCommitConflict rebases.
    val dir = Files.createTempDirectory("g_substrate_race")
    val real = FileSystem.getLocal(new Configuration())
    val staged = new HPath(dir.resolve("staged").toString)
    val o = real.create(staged, true); o.write('x'); o.close()
    val committed = new HPath(dir.resolve("committed").toString)
    val c = real.create(committed, true); c.write('w'); c.close()
    val fs = new org.apache.hadoop.fs.FilterFileSystem(real) {
      private var first = true
      override def exists(p: HPath): Boolean =
        if (p == committed && first) { first = false; false }
        else super.exists(p)
      override def rename(src: HPath, dst: HPath): Boolean =
        if (dst == committed) false // NameNode refuses: dst exists
        else super.rename(src, dst)
    }
    intercept[java.nio.file.FileAlreadyExistsException](
      T.RenameSubstrate.publishNoReplace(fs, staged, committed))
  }

  test("a wide commit (pool-path finalization) reads back exactly") {
    val spark = graft.etl.TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("g_substrate_wide").toString
    // a commit over 24 input partitions and 2 years: every written
    // file reaches the manifest with its rows
    val df = (1L to 480L).map(k =>
      (k, if (k % 2 == 0) 2023 else 2024, k * 1.5))
      .toDF("k", "pt_year", "v").repartition(24)
    T.commit(spark, root, 0, df, Seq(2023, 2024))
    val got = T.read(spark, root, 0)
    assert(got.count() === 480L)
    assert(got.agg(org.apache.spark.sql.functions.sum("k"))
      .head.getLong(0) === (1L to 480L).sum)
  }

  test("SQL INSERT INTO and UPDATE write each data file once: no " +
      "rename under data/, no stage directory, no written file reopened") {
    val spark = graft.etl.TestSpark.spark
    val base = Files.createTempDirectory("g_substrate_io").toString
    val cat = "gio_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, pt_year INT, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 2023, 1.0), (2, 2024, 2.0)")
    val root = s"$base/t"
    def local(p: String) = new HPath(p).toUri.getPath
    val data = local(s"$root/data") + "/"
    def live() = T.files(root, T.versions(root).max).map(local).toSet
    def check(statement: String, mayOpen: Set[String]): Unit = {
      val before = live()
      val conf = spark.sparkContext.hadoopConfiguration
      IoCountingFs.clear()
      conf.set("fs.file.impl", classOf[IoCountingFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      try spark.sql(statement)
      finally {
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
      val written = live() -- before
      assert(written.nonEmpty, s"$statement wrote no data file")
      val renamed = IoCountingFs.renamed.toArray(Array.empty[String])
        .toSeq.map(local).filter(_.startsWith(data))
      assert(renamed.isEmpty, s"$statement renamed under data/: $renamed")
      val staged = IoCountingFs.made.toArray(Array.empty[String]).toSeq
        .map(local).filter(p => p.startsWith(local(root) + "/") &&
          p.split('/').exists(_.startsWith("stage_")))
      assert(staged.isEmpty, s"$statement staged through $staged")
      val opened = IoCountingFs.opened.toArray(Array.empty[String])
        .toSeq.map(local).filter(_.startsWith(data)).toSet
      assert(opened.intersect(written).isEmpty,
        s"$statement reopened the files it wrote: $opened")
      assert(opened.subsetOf(mayOpen), s"$statement opened $opened")
    }
    check(s"INSERT INTO $cat.t VALUES (3, 2023, 3.0)", Set.empty)
    check(s"UPDATE $cat.t SET v = v + 1 WHERE k = 1", live())
    assert(spark.sql(s"SELECT k, v FROM $cat.t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(1L -> 2.0, 2L -> 2.0, 3L -> 3.0))
  }
  test("merge-on-read UPDATE, MERGE and key-range DELETE write each " +
      "tombstone file once, publish it by pointer and rename only the " +
      "top manifest") {
    val spark = graft.etl.TestSpark.spark
    val base = Files.createTempDirectory("g_substrate_mor").toString
    val cat = "gmio_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, pt_year INT, v DOUBLE) " +
      "TBLPROPERTIES ('rowKey' = 'k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 2023, 1.0), (2, 2023, 2.0), " +
      "(3, 2024, 3.0), (4, 2024, 4.0), (5, 2024, 5.0)")
    val root = s"$base/t"
    def head = T.versions(root).max
    def live() = T.files(root, head).map(local).toSet
    def record(statement: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      IoCountingFs.clear()
      conf.set("fs.file.impl", classOf[IoCountingFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      try spark.sql(statement)
      finally {
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
    }
    def seen(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
      q.toArray(Array.empty[String]).toSeq.map(local)
    // the statement's tombstones: the one dir its commit added
    def tombstoneFiles(v: Int): Seq[String] = {
      val dir = local(T.dvOf(root, v).get.entries.last.dir)
      seen(IoCountingFs.made).filter(_.startsWith(dir + "/"))
    }
    val firstDv = scala.collection.mutable.Map[String, Long]()
    def check(statement: String): Unit = {
      val before = head
      record(statement)
      assert(head === before + 1, s"$statement committed no version")
      val made = seen(IoCountingFs.made)
      assert(!made.exists(p => p.split('/').exists(n =>
        n.startsWith("stage_") || n == "_temporary" || n == "_SUCCESS")),
        s"$statement staged through $made")
      val renamed = seen(IoCountingFs.renamed)
      assert(renamed.forall(_.matches(".*/_manifests/\\.?v\\d+\\.(tmp|txt)")),
        s"$statement renamed more than its top manifest: $renamed")
      val files = tombstoneFiles(head)
      assert(files.nonEmpty, s"$statement wrote no tombstone file")
      assert(files.distinct === files,
        s"$statement created a tombstone file twice: $files")
      assert(seen(IoCountingFs.opened).toSet.intersect(files.toSet).isEmpty,
        s"$statement opened its tombstones during the commit")
      // a committed version's tombstone dirs never change
      if (firstDv.isEmpty) files.foreach(f =>
        firstDv(f) = java.nio.file.Paths.get(f).toFile.lastModified)
      firstDv.foreach { case (f, t) =>
        assert(java.nio.file.Paths.get(f).toFile.lastModified === t,
          s"$statement touched the earlier tombstone file $f")
      }
    }
    check(s"UPDATE $cat.t SET v = v + 10 WHERE k IN (1, 4)")
    val afterUpdate = T.dvOf(root, head)
    check(s"""MERGE INTO $cat.t t
        USING (SELECT * FROM VALUES
            (CAST(2 AS BIGINT), 2023, 20.0),
            (CAST(9 AS BIGINT), 2024, 90.0) AS s(k, pt_year, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    assert(T.dvOf(root, head - 1) === afterUpdate)
    assert(T.dvOf(root, head).get.entries.take(1) ===
      afterUpdate.get.entries, "the MERGE did not append one entry")
    // a key range is no pt_year bound: tombstones, no data file written
    val parentFiles = live()
    val mtimes = parentFiles.map(f =>
      f -> java.nio.file.Paths.get(f).toFile.lastModified).toMap
    check(s"DELETE FROM $cat.t WHERE k BETWEEN 3 AND 5")
    assert(live() === parentFiles, "the DELETE changed the file list")
    assert(!seen(IoCountingFs.made).exists(_.contains("/data/")),
      "the DELETE wrote a data file")
    assert(parentFiles.forall(f =>
      java.nio.file.Paths.get(f).toFile.lastModified == mtimes(f)))
    assert(T.dvOf(root, head).get.entries.size === 3)
    assert(spark.sql(s"SELECT k, v FROM $cat.t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(1L -> 11.0, 2L -> 20.0, 9L -> 90.0))
  }

  test("an m-file a crashed commit left behind is swept by " +
      "vacuumOrphans; referenced ones stay") {
    val spark = graft.etl.TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("g_substrate_mfile").toString
    T.commit(spark, root, 0,
      Seq((1L, 2023, 1.0), (2L, 2024, 2.0)).toDF("k", "pt_year", "v"),
      Seq(2023, 2024))
    // what a commit that died between its m-file and its top manifest
    // leaves: a token-named m-file no version references
    val md = java.nio.file.Paths.get(root, "_manifests")
    val crashed = md.resolve("m_v1_y2023_dead0000.txt")
    Files.write(crashed, Seq("junk\t1").mkString("\n").getBytes("UTF-8"))
    val referenced = T.pointers(root, 0).values.map(local).toSet
    assert(T.vacuumOrphans(root).isEmpty, "a young orphan was swept")
    val swept = T.vacuumOrphans(root, horizonMs = -1L).map(local)
    assert(swept === Seq(crashed.toString))
    assert(referenced.forall(m => Files.exists(java.nio.file.Paths.get(m))))
    assert(T.read(spark, root, 0).count() === 2)
  }

  private def local(p: String) = new HPath(p).toUri.getPath
}

/** The local filesystem, recording the paths it opens, creates or
  * makes directories at, and the sources and destinations of its
  * renames. */
class IoCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.permission.FsPermission
  override def open(f: HPath,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    IoCountingFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }
  override def create(f: HPath, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    IoCountingFs.made.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def mkdirs(f: HPath, permission: FsPermission): Boolean = {
    IoCountingFs.made.add(f.toString)
    super.mkdirs(f, permission)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    IoCountingFs.renamed.add(src.toString)
    IoCountingFs.renamed.add(dst.toString)
    super.rename(src, dst)
  }
}

object IoCountingFs {
  val opened, made, renamed =
    new java.util.concurrent.ConcurrentLinkedQueue[String]
  def clear(): Unit = Seq(opened, made, renamed).foreach(_.clear())
}
