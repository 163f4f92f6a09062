package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path operators: static/dynamic partitioned writes, append mode,
  * single-file CSV export, repartition/coalesce, cache — the save side of
  * the reference's `output.` target (reference
  * easy_sql/sql_processor/backend/spark.py:248-310) re-expressed as
  * DataFrameWriter operations. Each query writes to a scratch dir, reads
  * the result back, and returns an aggregate over the read-back so the
  * oracle can verify round-trip fidelity against the source table.
  *
  * At cluster scale these writes are `insert overwrite ... partition(...)`
  * into catalog tables; partition layout (`partitionBy`) is what matters
  * and is identical.
  */
object WriteOps {
  import Tables._

  /** Scratch table roots. Local tmpdir by default (the test posture);
    * `SPARK_GRAFT_SCRATCH` may point at ANY Hadoop URI (`hdfs://...`,
    * `s3a://...`) — every table-root consumer below resolves paths
    * through the Hadoop FileSystem API, so redirecting this one env var
    * moves the whole write/snapshot family onto a cluster filesystem. */
  private[graft] def scratch(name: String): String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      new java.io.File(sys.props("java.io.tmpdir"), "graft_scratch")
        .toString)
    new org.apache.hadoop.fs.Path(base, name).toString
  }

  private def decSum(c: String) = sum(col(c).cast(dec)).cast("double")

  // per-JVM memo of the bucketed-table setup (see bucketed_join_colocated)
  private val bucketedSetup =
    scala.collection.concurrent.TrieMap[String, Unit]()

  // per-JVM memo of the PIT gate's SCD2 dimension build (see
  // join_pit_scd2): sfDir -> built table path
  private val pitScd2Setup =
    scala.collection.concurrent.TrieMap[String, String]()

  // per-JVM memo of the CDF gate's 3-version snapshot lineage (see
  // read_table_changes): sfDir -> table root
  private val cdfSetup =
    scala.collection.concurrent.TrieMap[String, String]()

  // per-JVM memo of the skipping gate's clustered table (see
  // write_skipping_scan): sfDir -> table root
  private val skipSetup =
    scala.collection.concurrent.TrieMap[String, String]()

  // per-JVM memo of the z-order scan gate's optimized table (see
  // write_zorder_scan): sfDir -> table root
  private val zscanSetup =
    scala.collection.concurrent.TrieMap[String, String]()

  // per-(JVM, sfDir) snapshot-sink state for the streaming snapshot
  // twin (see streamingSnapshotSink): sfDir -> (table root, ckpt dir).
  // graft-visible so SnapshotSinkSpec can count versions across restarts.
  private[graft] val snapSinkState =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Small-files compaction — the maintenance operator every large
    * parquet lake needs: N fragmented files rewritten to
    * ceil(totalBytes / targetFileBytes) right-sized files. File count
    * comes from actual on-disk bytes (one FS listing, no data scan);
    * the rewrite is one read → repartition → write, so it distributes
    * like any other job and never collects data to the driver. At
    * cluster scale this runs per partition directory with the same
    * byte-targeting logic.
    *
    * `transform` lets a caller fold a row-drop into the rewrite (e.g.
    * the ANN index compaction anti-joins its tombstone set) without a
    * second pass; the file-count target is still sized from the SOURCE
    * bytes — an upper bound when the transform drops rows, which only
    * errs toward smaller-than-target files. */
  def compact(s: SparkSession, srcDir: String, outDir: String,
      targetFileBytes: Long,
      transform: DataFrame => DataFrame = identity): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(srcDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    val nFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    transform(s.read.parquet(srcDir))
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    nFiles
  }

  /** MERGE-style keyed upsert into a partitioned parquet table, the
    * operator a lakehouse spells `MERGE INTO t USING batch ON key`.
    * Plain parquet has no row-level commit, so the scalable shape is
    * partition-scoped copy-on-write — exactly what Delta/Iceberg/Hudi
    * CoW tables do under the hood:
    *  1. the batch's touched partitions are computed from the batch
    *     (tiny, broadcast) — the table is read back ONLY for those
    *     partitions (partition pruning; untouched data is never opened);
    *  2. merge = union + keep-latest-per-key (one shuffle on the key,
    *     batch rows win via a src-priority row_number);
    *  3. staged commit: the merged slice is materialized to a stage dir
    *     first (breaking the read-from-write-path cycle), then
    *     dynamically overwrites ONLY the touched partitions.
    * At 100 TB the rewrite cost is proportional to touched partitions,
    * not table size; untouched partition files are physically untouched
    * (spec-asserted on file mtimes). */
  private[graft] def upsertLoad(s: SparkSession, d: String,
      base: String): Unit =
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("pt_year"))
      .write.mode(SaveMode.Overwrite).partitionBy("pt_year").parquet(base)

  /** The 1997 change batch: every 1997 order re-priced (+100), plus the
    * same orders cloned to brand-new keys (inserts). With `evolve`, the
    * batch carries a brand-new column (`o_channel`: updates "web",
    * inserts "bulk") the table has never seen — the MERGE-batch shape
    * real pipelines produce when an upstream system adds a field. */
  private[graft] def upsertBatch(s: SparkSession, d: String,
      evolve: Boolean = false): DataFrame = {
    val t97 = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("pt_year"))
      .filter(col("pt_year") === 1997)
    val upd = t97.withColumn("o_totalprice", col("o_totalprice") + 100.0)
    val ins = t97.select(
      (col("o_orderkey") + 100000000L).as("o_orderkey"),
      col("o_custkey"), lit(1.0).as("o_totalprice"), col("pt_year"))
    if (evolve)
      upd.withColumn("o_channel", lit("web"))
        .unionByName(ins.withColumn("o_channel", lit("bulk")))
    else upd.unionByName(ins)
  }

  /** `evolve = true` allows the batch to carry columns the table lacks:
    * the union null-fills stay rows (allowMissingColumns), the staged
    * commit writes the widened schema into the TOUCHED partitions only,
    * and untouched partition files stay byte-identical — the
    * parquet-native analogue of a lakehouse ADD COLUMN commit, where
    * evolution costs nothing for files the merge doesn't rewrite. The
    * read side resolves the on-disk schema mix with mergeSchema (see
    * the write_upsert_evolve gate). */
  private[graft] def upsertMerge(s: SparkSession, d: String,
      base: String, stage: String, evolve: Boolean = false): Unit = {
    import org.apache.spark.sql.expressions.Window
    val batch = upsertBatch(s, d, evolve)
    val affected = batch.select("pt_year").distinct()
    val cur = s.read.parquet(base)
      .join(broadcast(affected), Seq("pt_year"), "left_semi")
    val merged = batch.withColumn("src", lit(1))
      .unionByName(cur.withColumn("src", lit(0)),
        allowMissingColumns = evolve)
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
      .filter(col("rn") === 1).drop("rn", "src")
    merged.write.mode(SaveMode.Overwrite).parquet(stage)
    s.read.parquet(stage)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pt_year").parquet(base)
  }

  /** The full CDC feed for the apply gate: op-labeled rows — every 1997
    * order re-priced (U), the same orders cloned to new keys (I), and
    * the 1996 keys ≡ 3 mod 10 marked for removal (D). The shape a
    * change-capture stream (or read_table_changes itself) delivers. */
  private[graft] def changeFeed(s: SparkSession, d: String): DataFrame = {
    val t = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("pt_year"))
    val upd = t.filter(col("pt_year") === 1997)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("op", lit("U"))
    val ins = t.filter(col("pt_year") === 1997).select(
      (col("o_orderkey") + 100000000L).as("o_orderkey"),
      col("o_custkey"), lit(1.0).as("o_totalprice"), col("pt_year"),
      lit("I").as("op"))
    val del = t.filter(col("pt_year") === 1996 && col("o_orderkey") % 10 === 3)
      .withColumn("op", lit("D"))
    upd.unionByName(ins).unionByName(del)
  }

  /** APPLY a CDC feed (op ∈ I/U/D) to a partitioned parquet table — the
    * full MERGE semantics a lakehouse spells `WHEN MATCHED AND op='D'
    * THEN DELETE ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
    * INSERT`, and the consumer side of read_table_changes' feed. Same
    * partition-scoped copy-on-write as upsertMerge — touched partitions
    * come from the batch (a delete-only partition is still touched),
    * the table is read back only there — plus a delete leg: the merged
    * slice anti-joins the broadcast tombstone key set. Rewrite cost is
    * proportional to touched partitions; a corpus-scale feed would swap
    * the broadcast for a shuffle anti-join with identical semantics.
    * Applying the same feed twice is a no-op (spec-proven idempotence —
    * the property that makes at-least-once CDC delivery safe). */
  private[graft] def applyChanges(s: SparkSession, base: String,
      stage: String, batch: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val affected = batch.select("pt_year").distinct()
    val cur = s.read.parquet(base)
      .join(broadcast(affected), Seq("pt_year"), "left_semi")
    val dels = batch.filter(col("op") === "D")
      .select("o_orderkey").distinct()
    val merged = batch.filter(col("op") =!= "D").drop("op")
      .withColumn("src", lit(1))
      .unionByName(cur.withColumn("src", lit(0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
      .filter(col("rn") === 1).drop("rn", "src")
      .join(broadcast(dels), Seq("o_orderkey"), "left_anti")
    merged.write.mode(SaveMode.Overwrite).parquet(stage)
    s.read.parquet(stage)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pt_year").parquet(base)
    // dynamic overwrite only rewrites partitions PRESENT in the written
    // data — a feed that tombstones every row of a partition leaves no
    // rows for it in `merged`, so its stale files would silently
    // survive. Diff touched vs written partitions and drop the emptied
    // ones explicitly (both sets are the batch's touched partitions,
    // bounded by the feed, never table size).
    val touchedYears =
      affected.collect().map(_.get(0).toString.toInt).toSet
    val writtenYears = s.read.parquet(stage)
      .select("pt_year").distinct().collect()
      .map(_.get(0).toString.toInt).toSet
    (touchedYears -- writtenYears).foreach { y =>
      SnapshotTable.deleteTree(
        new org.apache.hadoop.fs.Path(base, s"pt_year=$y").toString)
    }
  }

  /** Minimal manifest-committed snapshot table — the transactional core
    * of the lakehouse formats (Delta/Iceberg/Hudi CoW shape) over plain
    * parquet, completing the write family's missing pillar: TIME TRAVEL.
    *
    *  - Data files are IMMUTABLE, written once under `root/data/`; a
    *    file's partition is encoded in its name
    *    (`v{v}_y{year}_p{task}_{token}`).
    *  - Metadata is a TWO-LEVEL MANIFEST TREE (r12 — the structure
    *    Iceberg's manifest lists formalize): one immutable PARTITION
    *    manifest (`m_v{v}_y{year}_{token}.txt`, one `path\tbytes`
    *    line per data file) per touched partition per commit, and one
    *    atomically-renamed TOP manifest per version (`v{N}.txt`, one
    *    `y{year}\tm-file` POINTER line per live partition). Carry-over
    *    copies the parent's pointers verbatim — an untouched
    *    partition's metadata is never re-read, let alone rewritten.
    *  - A commit therefore writes O(touched partitions) metadata —
    *    its fresh m-files (sized by its own files) + a pointer list
    *    sized by |partitions| — never O(live files of the table). At
    *    100 TB / millions of live files, commit metadata IO stays flat
    *    in table size; the same contract Iceberg's manifest tree buys.
    *    A torn commit is impossible (readers resolve the old top
    *    manifest or the new one, never half a pointer list).
    *  - Reading version v resolves its pointers to exactly v's files;
    *    any retained version is a consistent snapshot, and later
    *    commits never disturb it — snapshot isolation BY immutability
    *    (SnapshotTableSpec asserts shared files keep their mtimes
    *    across commits). Partition-scoped reads ([[readPartitions]])
    *    resolve ONLY the selected partitions' m-files: the file prune
    *    happens in metadata, before any footer opens.
    *  - [[changedYears]] is a POINTER diff of two top manifests —
    *    O(|partitions|) with zero m-file reads — because carry-over
    *    shares pointers and fresh m-files are version-namespaced: a
    *    partition changed iff its pointer changed.
    *  - vacuum(retain k) deletes the data files and m-files referenced
    *    by NO retained version plus the expired top manifests — a set
    *    difference over pointers, metadata-only, no data scan. Reads
    *    within retention are byte-identical before/after (the gate
    *    proves it); reads past retention fail loudly.
    *
    * IO substrate note (the 100 TB deployment story): every table-root
    * path below resolves through `org.apache.hadoop.fs.FileSystem`, so a
    * root may be a local dir (tests), `hdfs://`, or an object store.
    * Commit atomicity is an ENFORCED SEAM, not a caveat: every publish
    * routes through the scheme-selected [[SnapshotTable.CommitSubstrate]]
    * — rename-no-replace on rename-atomic filesystems (HDFS refuses an
    * existing destination inside the rename; the local FS gets a JVM
    * lock around the exists+rename pair), put-if-absent
    * (`create(dst, overwrite = false)`) on object stores that opt in to
    * server-enforced conditional create, and a LOUD REFUSAL on anything
    * else — the same split Delta's LogStore formalizes (HDFSLogStore /
    * LocalLogStore / S3SingleDriverLogStore). */
  private[graft] object SnapshotTable {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import java.nio.charset.StandardCharsets.UTF_8

    private def hconf(): Configuration =
      SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new Configuration())

    private def fsFor(p: HPath): FileSystem = p.getFileSystem(hconf())

    // per-root publish lock: serializes manifest check-then-rename within
    // this JVM (local-FS rename cannot refuse an existing destination;
    // HDFS refuses inside the rename and needs no lock — see object doc)
    private val rootLocks =
      scala.collection.concurrent.TrieMap[String, Object]()
    private def lockFor(root: String): Object =
      rootLocks.getOrElseUpdate(root, new Object)

    // serializes every exists+rename pair within this JVM: the local
    // filesystem's rename silently replaces, so without this two racing
    // writers can BOTH pass the exists check and the loser's rename
    // clobbers the winner's just-committed manifest. The critical
    // section is two metadata calls — microseconds — and HDFS (whose
    // rename refuses inside the NameNode) doesn't need it but isn't
    // hurt by it.
    private val renameLock = new Object

    // Shared driver-side metadata-I/O pool (partition-manifest reads):
    // these are independent KB-scale FS round-trips, so they overlap
    // here instead of serializing on the read/commit critical path
    // (guide §2.2 — fatter use of latency-bound I/O). ONE lazy daemon
    // pool per JVM: the former per-call Executors.newFixedThreadPool
    // paid up-to-32 thread creations on EVERY commit. Callers go
    // through [[ioMap]], which Awaits with a BOUND — a hung filesystem
    // fails the operation with a diagnostic instead of wedging the
    // commit forever (the r17 pools awaited Duration.Inf).
    private lazy val ioPool: scala.concurrent.ExecutionContextExecutorService = {
      val tf = new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-meta-io-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(32, tf))
    }

    /** Bound on any pooled metadata-I/O batch. Generous — a batch is
      * hundreds of KB-scale reads — so hitting it means the
      * filesystem is hung, and failing the operation loudly beats an
      * unbounded wedge. */
    private val ioTimeout = scala.concurrent.duration.Duration(10,
      java.util.concurrent.TimeUnit.MINUTES)

    /** Map `f` over `xs` on [[ioPool]], preserving order. Short inputs
      * stay on the calling thread: below a few elements the pool's
      * submit/wakeup overhead exceeds the serial read. */
    private def ioMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      if (xs.size <= 2) xs.map(f)
      else {
        import scala.concurrent.{Await, Future}
        implicit val ec: scala.concurrent.ExecutionContext = ioPool
        Await.result(Future.traverse(xs)(x => Future(f(x))), ioTimeout)
      }

    // ------------------------------------------------------------------
    // ATOMIC-PUBLISH SUBSTRATE (Delta's LogStore split, ENFORCED as a
    // seam rather than documented as a caveat): every publish — top
    // manifests and branch refs — routes through the substrate
    // selected by the root filesystem's URI scheme. Data files,
    // partition manifests and tombstone files need no publish: each
    // is written once at a commit-unique name and becomes visible only
    // when a top manifest references it.
    //  - RENAME substrate (hdfs/file/viewfs): rename-no-replace, atomic
    //    on HDFS (the NameNode refuses an existing destination inside
    //    the rename); on the local FS a JVM-wide lock makes the
    //    exists+rename pair race-free within one driver.
    //  - PUT-IF-ABSENT substrate (object stores whose connector
    //    enforces conditional create server-side): the staged bytes
    //    re-publish through `create(dst, overwrite = false)` and the
    //    store arbitrates the race. OPT-IN per scheme
    //    (SPARK_GRAFT_PUTIFABSENT_SCHEMES env, or the
    //    graft.putifabsent.schemes system property) because Hadoop
    //    connectors differ on whether create(false) is a true
    //    conditional put or a client-side check-then-put.
    //  - Any other scheme (s3a/gs/wasb/... without the opt-in) REFUSES
    //    LOUDLY at publish: on a store with silently-replacing rename,
    //    proceeding would let a commit-race loser overwrite the
    //    winner's committed manifest — corrupting the log is strictly
    //    worse than failing the write.
    // ------------------------------------------------------------------
    private[graft] sealed trait CommitSubstrate {
      /** Publish staged `src` at `dst`, refusing an existing
        * destination — throws java.nio.file.FileAlreadyExistsException
        * (the commit-race loser's signal; `src` is left for the caller
        * to clean). */
      def publishNoReplace(fs: FileSystem, src: HPath, dst: HPath): Unit
    }

    private[graft] object RenameSubstrate extends CommitSubstrate {
      def publishNoReplace(fs: FileSystem, src: HPath,
          dst: HPath): Unit = renameLock.synchronized {
        if (fs.exists(dst))
          throw new java.nio.file.FileAlreadyExistsException(dst.toString)
        if (!fs.rename(src, dst)) {
          // TWO-DRIVER race on HDFS: the JVM lock only serializes one
          // process, so both drivers can pass the exists() check; the
          // NameNode then fails the loser's rename with a plain
          // `false`. That IS the commit-race loser's signal — re-check
          // the destination and translate, so isCommitConflict
          // recognizes it and the caller rebases instead of erroring.
          // A genuine rename failure (dst still absent) stays an
          // IOException.
          if (fs.exists(dst))
            throw new java.nio.file.FileAlreadyExistsException(
              dst.toString)
          throw new java.io.IOException(s"rename $src -> $dst failed")
        }
      }
    }

    private[graft] object PutIfAbsentSubstrate extends CommitSubstrate {
      def publishNoReplace(fs: FileSystem, src: HPath,
          dst: HPath): Unit = {
        // fast-path refuse; the create(overwrite = false) below is the
        // server-side arbiter on stores that enforce conditional puts
        if (fs.exists(dst))
          throw new java.nio.file.FileAlreadyExistsException(dst.toString)
        val in = fs.open(src)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
            buf.toByteArray
          } finally in.close()
        // ONLY the store's conditional-put conflict translates to the
        // commit-race loser's signal; any other IOException (network,
        // quota, transient store error) must SURFACE — translating it
        // too would send the caller's rebase-retry loop spinning
        // against a store that is actually erroring, masking the
        // real failure behind a bogus "lost the race" diagnosis.
        val out =
          try fs.create(dst, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              throw new java.nio.file.FileAlreadyExistsException(
                dst.toString)
            case e: java.io.IOException
                if Option(e.getMessage).exists(m =>
                  m.contains("already exists") ||
                  m.toLowerCase.contains("precondition")) =>
              // connectors that report the conditional-put loss as a
              // message-coded IOException (412 PreconditionFailed)
              throw new java.nio.file.FileAlreadyExistsException(
                dst.toString)
          }
        // a create that succeeded but whose write/close fails must not
        // leave a PARTIAL manifest at dst to be read as the committed
        // version — reclaim it best-effort and surface the failure
        try { out.write(bytes); out.close() }
        catch {
          case e: Throwable =>
            try out.close() catch { case _: Exception => () }
            try fs.delete(dst, false) catch { case _: Exception => () }
            throw e
        }
        fs.delete(src, false)
      }
    }

    private val renameSafeSchemes = Set("file", "hdfs", "viewfs", "webhdfs")

    private def putIfAbsentSchemes: Set[String] =
      sys.env.get("SPARK_GRAFT_PUTIFABSENT_SCHEMES")
        .orElse(sys.props.get("graft.putifabsent.schemes"))
        .map(_.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)

    /** The publish substrate for a URI scheme — the single decision
      * point every table-root write routes through. Unknown schemes
      * refuse with the deployment instructions in the message. */
    private[graft] def substrateFor(scheme: String): CommitSubstrate = {
      val s = Option(scheme).map(_.toLowerCase).getOrElse("file")
      if (renameSafeSchemes.contains(s)) RenameSubstrate
      else if (putIfAbsentSchemes.contains(s)) PutIfAbsentSubstrate
      else throw new UnsupportedOperationException(
        s"snapshot-table commits need an atomic publish, and scheme " +
        s"'$s' guarantees neither rename-no-replace nor conditional " +
        "create out of the box. If this store enforces " +
        "create(overwrite=false) server-side (conditional put), opt in " +
        s"with SPARK_GRAFT_PUTIFABSENT_SCHEMES=$s (or the " +
        "graft.putifabsent.schemes system property); otherwise front " +
        "the table root with HDFS or a rename-atomic filesystem.")
    }

    /** Publish refusing to replace an existing destination — the commit
      * race arbiter, routed through the scheme's [[CommitSubstrate]]. */
    private def renameNoReplace(fs: FileSystem, src: HPath,
        dst: HPath): Unit =
      substrateFor(fs.getUri.getScheme).publishNoReplace(fs, src, dst)

    private def readAllLines(fs: FileSystem, p: HPath): Seq[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }

    /** Write `lines` to `dst` atomically: stage a tmp file, publish by
      * rename-no-replace (the loser of a version race throws here). */
    private def writeAtomic(fs: FileSystem, tmp: HPath, dst: HPath,
        lines: Seq[String]): Unit = {
      val out = fs.create(tmp, true)
      try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
      finally out.close()
      try renameNoReplace(fs, tmp, dst)
      catch { case e: Throwable => fs.delete(tmp, false); throw e }
    }

    private def mdir(root: String): HPath = new HPath(root, "_manifests")

    private def manifest(root: String, v: Int): HPath =
      new HPath(mdir(root), s"v$v.txt")

    def versions(root: String): Seq[Int] = {
      val dir = mdir(root)
      val fs = fsFor(dir)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("v\\d+\\.txt"))
        .map(_.drop(1).dropRight(4).toInt).sorted
    }

    /** A version's top manifest, parsed from ONE read. A scan resolves
      * it once and passes it down; a commit reads its parent's once and
      * builds the next version's from it ([[publish]]).
      *
      * This is the one definition of the top-manifest format: [[parse]]
      * reads it and [[render]] writes it. The file `_manifests/v<N>.txt`
      * is UTF-8 text, one record per line:
      *
      *  - `#schema=<StructType json>`: the version's table schema;
      *  - `#ts=<epoch millis>`: the commit's stamp on the table's
      *    monotonic ts chain, equal to the `born` of the files and the
      *    `__below` of the tombstones that commit wrote;
      *  - `#txn=<base64 app>\t<batchId>`: an idempotent writer's batch;
      *  - `#dv=<key column>`: the pending deletion vector's key;
      *  - `#dvdir=<dir>\t<below>\t<year>,<year>,...`: one line per
      *    tombstone dir of that deletion vector ([[DvEntry]]), in
      *    commit order;
      *  - `y<year>\t<m-file>`: one partition pointer per non-empty year.
      *
      * Every header is optional (manifests written before a field
      * existed lack it); headers are found by prefix, so their order is
      * free and other `#` lines are ignored. A legacy single-sidecar
      * line `#dv=<dir>\t<key column>\t<years>` parses as one entry
      * whose `below` is `Long.MaxValue`; it is rendered back in the
      * list form. A staged branch ref is the same format plus its own
      * `#parent=`/`#fresh=` headers. */
    private[graft] case class Top(version: Int,
        schema: Option[org.apache.spark.sql.types.StructType],
        dv: Option[Dv],
        pointers: Map[Int, String],
        ts: Option[Long] = None,
        txn: Option[(String, Long)] = None) {
      /** The next commit's draft on this version: same schema, pointers
        * and pending deletion vector, stamped `ts`, no txn (a writer's
        * batch belongs to the one commit that recorded it). */
      def next(v: Int, ts: Long): Top =
        copy(version = v, ts = Some(ts), txn = None)
    }

    private object Top {
      /** The parent of version 0: no schema, no files, no stamp. */
      val empty: Top = Top(-1, None, None, Map.empty)

      def header(ls: Seq[String], k: String): Option[String] =
        ls.find(_.startsWith(k)).map(_.stripPrefix(k))

      def parse(v: Int, ls: Seq[String]): Top =
        Top(v,
          header(ls, "#schema=").map(j => org.apache.spark.sql.types.DataType
            .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType]),
          header(ls, "#dv=").map { l =>
            def years(t: String) =
              t.split(',').filter(_.nonEmpty).map(_.toInt).toSeq
            val t = l.split('\t')
            if (t.length > 1) // legacy: one sidecar, births unstamped
              Dv(t(1), Seq(DvEntry(t(0), Long.MaxValue,
                years(t.lift(2).getOrElse("")))))
            else Dv(l, ls.filter(_.startsWith("#dvdir=")).map { e =>
              val f = e.stripPrefix("#dvdir=").split('\t')
              DvEntry(f(0), f(1).toLong, years(f(2)))
            })
          },
          ls.filterNot(_.startsWith("#")).map { l =>
            val i = l.indexOf('\t')
            l.take(i).drop(1).toInt -> l.drop(i + 1)
          }.toMap,
          header(ls, "#ts=").map(_.toLong),
          header(ls, "#txn=").map { l =>
            val i = l.indexOf('\t')
            (b64d(l.take(i)), l.drop(i + 1).toLong)
          })

      def render(t: Top): Seq[String] =
        t.schema.map(sc => s"#schema=${sc.json}").toSeq ++
          t.ts.map(ts => s"#ts=$ts") ++
          t.txn.map { case (app, id) => s"#txn=${b64e(app)}\t$id" } ++
          t.dv.toSeq.flatMap { d =>
            s"#dv=${d.key}" +: d.entries.map(e => s"#dvdir=${e.dir}\t" +
              s"${e.below}\t${e.years.sorted.mkString(",")}")
          } ++
          t.pointers.toSeq.sortBy(_._1).map { case (y, m) => s"y$y\t$m" }
    }

    /** One batch of tombstones: an immutable, token-named dir under
      * `_dv/` of (key, pt_year) parquet files, written once by the
      * tasks of the commit that added it and never rewritten. `below`
      * is that commit's ts-chain value (the way a file entry carries
      * `born`): a tombstone kills a row only of a file born strictly
      * before it. Rows of a legacy sidecar that carry their own
      * `__below` keep it; a legacy entry's `Long.MaxValue` kills rows
      * of every file. `years` are the partitions the entry still
      * applies to — a rewrite of a year drops it here, never in the
      * dir. */
    private[graft] case class DvEntry(dir: String, below: Long,
        years: Seq[Int])

    /** A version's pending deletion vector: its key column and its
      * tombstone dirs in commit order. A commit adds an entry or drops
      * years; no commit changes a dir. */
    private[graft] case class Dv(key: String, entries: Seq[DvEntry]) {
      /** Every partition with pending tombstones. */
      def years: Seq[Int] = entries.flatMap(_.years).distinct.sorted

      /** This vector minus the `gone` years (a rewrite purged them);
        * None when nothing stays pending. */
      def without(gone: Set[Int]): Option[Dv] = {
        val left = entries.map(e => e.copy(years = e.years.filterNot(gone)))
          .filter(_.years.nonEmpty)
        if (left.isEmpty) None else Some(copy(entries = left))
      }
    }

    /** Version v's top manifest, or None when v was never committed or
      * was vacuumed. */
    private def readTop(root: String, v: Int): Option[Top] = {
      val m = manifest(root, v)
      try Some(Top.parse(v, readAllLines(fsFor(m), m).filter(_.nonEmpty)))
      catch { case _: java.io.FileNotFoundException => None }
    }

    private[graft] def top(root: String, v: Int): Top = {
      val t = readTop(root, v)
      require(t.isDefined,
        s"snapshot version $v is unavailable (vacuumed or never " +
        "committed)")
      t.get
    }

    /** The version's partition-manifest POINTER map (year → m-file):
      * the entire top-level metadata of a version, |partitions| lines
      * however many files the table holds. */
    def pointers(root: String, v: Int): Map[Int, String] =
      top(root, v).pointers

    /** The version's TABLE SCHEMA, recorded in its top manifest at
      * commit — schema-as-metadata, the Delta/Iceberg design: SCHEMA
      * EVOLUTION is a new (merged) schema in the new version's
      * manifest, old versions keep their old schema verbatim, and
      * readers never sample data-file footers to discover columns. */
    def tableSchema(root: String,
        v: Int): Option[org.apache.spark.sql.types.StructType] =
      top(root, v).schema

    /** Parent schema ∪ slice schema: new columns append (nullable —
      * carried files lack them and must null-fill); a column present
      * in both must keep its type — a silent type change would
      * corrupt carried data, so it fails loudly instead. */
    private def mergeSchemas(
        parent: org.apache.spark.sql.types.StructType,
        slice: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = {
      val byName = slice.fields.map(f => f.name -> f).toMap
      parent.fields.foreach { pf =>
        byName.get(pf.name).foreach(sf => require(
          sf.dataType == pf.dataType,
          s"schema evolution cannot change column '${pf.name}' from " +
          s"${pf.dataType.simpleString} to ${sf.dataType.simpleString}" +
          " — add a new column instead"))
      }
      val existing = parent.fieldNames.toSet
      // parent fields carry VERBATIM (metadata and nullability — a
      // rowKey table's identity columns are recorded non-nullable and
      // must stay so); only genuinely new columns append, nullable
      // (pre-evolution files null-fill them)
      org.apache.spark.sql.types.StructType(
        parent.fields ++ slice.fields.filterNot(f =>
          existing.contains(f.name)).map(_.copy(nullable = true)))
    }

    /** One data file's manifest record: path, byte size, and an encoded
      * per-column min/max stats blob (`""` when the file predates stats
      * collection or no column qualified) — the Iceberg/Delta data-
      * skipping metadata, carried with the file through every
      * carry-over, optimize, branch publish, and vacuum.
      *
      * `rows`: the file's exact row count, counted by the task that
      * wrote the file, like its column stats (−1 on entries
      * written before r15 — consumers must treat unknown as
      * unpushable). Carried verbatim through every carry-over, like
      * bytes and stats.
      *
      * `born`: the monotonic commit-ts chain value of the commit that
      * CREATED the file's content (−1 = legacy/unknown, treated as
      * older-than-everything). Deletion-vector tombstones carry a
      * `__below` from the same chain and kill a row only when
      * `__below > born` — the Iceberg sequence-number idea expressed
      * on the ts chain, which stays totally ordered ACROSS shallow
      * clones (a clone's first own commit draws max(srcHeadTs+1, now))
      * where version numbers restart. This is what lets one commit
      * tombstone a key AND re-insert it (merge-on-read UPDATE): the
      * fresh file's born equals the tombstone's __below, so the new
      * row is exempt while every older file's rows stay killed. */
    private[graft] case class FileEntry(path: String, bytes: Long,
        stats: String = "", rows: Long = -1L, born: Long = -1L)

    /** Row-group byte bound for EVERY snapshot data-file write
      * ([[graft.sources.SnapshotWriteJob]]).
      * Parquet's 128 MB default would leave a compacted file as ONE
      * row group — unsplittable, so a whole partition would scan on
      * one core no matter how the read plans; 16 MB groups make the
      * connector's byte-range splits ([[graft.sources.SnapshotSplits]])
      * land on real row-group boundaries. Override via the hadoop conf
      * key (specs use a small value to pin split behavior without
      * writing hundreds of MB). */
    private[graft] def rowGroupBytes(
        conf: org.apache.hadoop.conf.Configuration): Long =
      conf.getLong("graft.snapshot.rowGroupBytes", 16L << 20)

    private def readPartManifest(m: String): Seq[FileEntry] = {
      val hp = new HPath(m)
      readAllLines(fsFor(hp), hp).filter(_.nonEmpty).map(parseEntry)
    }

    /** Read many partition manifests through [[ioPool]], preserving
      * input order. Every snapshot read resolves its file list here —
      * driver-SERIAL per-partition reads (the r17 shape) put
      * O(partitions) sequential small-file round-trips in front of
      * every scan plan; a 100k-partition table pays them on EVERY
      * read. The pool collapses that to O(partitions / 32) latency. */
    private def readPartManifests(ms: Seq[String]): Seq[Seq[FileEntry]] =
      ioMap(ms)(readPartManifest)

    /** Write one immutable partition manifest; returns its path. Every
      * m-file name carries its commit's token, so no other writer can
      * take it: the file is created in place (`overwrite = false`), with
      * no tmp and no rename — only the top-manifest publish arbitrates.
      * A crashed commit's m-file is an unreferenced orphan that
      * [[vacuumOrphans]] reclaims past its horizon. */
    private def writePartManifest(root: String, name: String,
        entries: Seq[FileEntry]): String = {
      val mf = new HPath(mdir(root), name)
      val out = fsFor(mf).create(mf, false)
      try out.write(entries.sortBy(_.path).map(fmtEntry)
        .mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
      mf.toString
    }

    /** A version's manifest entries: (data file path, byte size). Sizes
      * are recorded AT COMMIT (by the task that wrote the file) and carried
      * verbatim thereafter, so maintenance planning (optimize) reads no
      * filesystem metadata at all — the manifests are the only source. */
    def entries(root: String, v: Int): Seq[(String, Long)] =
      statEntries(root, v).map(e => (e.path, e.bytes))

    /** A version's full manifest records including the per-file column
      * stats blob — the data-skipping read path's input. */
    private[graft] def statEntries(root: String, v: Int): Seq[FileEntry] =
      readPartManifests(
        pointers(root, v).toSeq.sortBy(_._1).map(_._2)).flatten

    /** SELECTED partitions' entries — the metadata prune: only those
      * partitions' m-files are read; everything else stays closed. */
    def partitionEntries(root: String, v: Int,
        years: Seq[Int]): Seq[(String, Long)] = {
      val ps = pointers(root, v)
      readPartManifests(years.sorted.flatMap(y => ps.get(y)))
        .flatten.map(e => (e.path, e.bytes))
    }

    /** SELECTED partitions' full manifest records, grouped by year —
      * the file-granular DELETE's pruning input (stats blobs intact). */
    private[graft] def partitionStatEntries(root: String, v: Int,
        years: Seq[Int]): Seq[(Int, Seq[FileEntry])] =
      partitionStatEntries(pointers(root, v), years)

    /** The same, over an already-parsed pointer map ([[Top]]). */
    private[graft] def partitionStatEntries(ps: Map[Int, String],
        years: Seq[Int]): Seq[(Int, Seq[FileEntry])] = {
      val sel = years.sorted.flatMap(y => ps.get(y).map(y -> _))
      sel.map(_._1).zip(readPartManifests(sel.map(_._2)))
    }

    // entry line = path \t bytes [\t stats [\t rows]]; paths are
    // generated names (never containing tabs), so a plain split is
    // unambiguous; both optional fields degrade gracefully (missing
    // stats = never skipped, missing rows = count never pushed)
    private def parseEntry(line: String): FileEntry = {
      val t = line.split('\t')
      if (t.length >= 5)
        FileEntry(t(0), t(1).toLong, t(2), t(3).toLong, t(4).toLong)
      else if (t.length == 4)
        FileEntry(t(0), t(1).toLong, t(2), t(3).toLong)
      else if (t.length == 3) FileEntry(t(0), t(1).toLong, t(2))
      else if (t.length == 2) FileEntry(t(0), t(1).toLong)
      else FileEntry(line, -1L)
    }

    private def fmtEntry(e: FileEntry): String =
      if (e.born >= 0)
        s"${e.path}\t${e.bytes}\t${e.stats}\t${e.rows}\t${e.born}"
      else if (e.rows >= 0) s"${e.path}\t${e.bytes}\t${e.stats}\t${e.rows}"
      else if (e.stats.isEmpty) s"${e.path}\t${e.bytes}"
      else s"${e.path}\t${e.bytes}\t${e.stats}"

    def files(root: String, v: Int): Seq[String] =
      statEntries(root, v).map(_.path)

    // ------------------------------------------------------------------
    // FILE-LEVEL COLUMN STATISTICS + DATA SKIPPING (the Delta/Iceberg
    // skipping path): the task writing a data file takes its
    // per-column min/max from the rows as they pass
    // ([[graft.sources.SnapshotDataWriter]]), and the commit records
    // them on the file's manifest line. A filtered read then
    // prunes the version's file list in MANIFEST metadata — before any
    // footer, let alone any row, is opened — keeping only files whose
    // [min,max] can intersect the predicate. Files without stats for
    // the column (pre-stats commits, schema-evolution gaps, unsupported
    // types) are conservatively KEPT, so skipping is always a pure
    // optimization. Composes with write_zordered/optimize(zorderBy):
    // clustered layouts make per-file ranges near-disjoint, which is
    // exactly what turns min/max pruning into large skip fractions.
    // ------------------------------------------------------------------

    /** One column's recorded bounds. `typ`: 'L' integral/date (ordered
      * as Long), 'D' double/float (ordered as Double), 'S' string
      * (ordered as unsigned UTF-8 bytes — parquet's UTF8 order). Values
      * are Base64 so the blob stays tab/semicolon-free. `nulls`: the
      * file's exact NULL count for the column (−1 on blobs written
      * before null counts were recorded) — what `IS NULL` file pruning
      * and `COUNT(col)` pushdown consume. */
    private[graft] case class ColStat(typ: Char, min: String,
        max: String, nulls: Long = -1L)

    private def b64e(s: String): String =
      java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(s.getBytes(UTF_8))
    private def b64d(s: String): String =
      new String(java.util.Base64.getUrlDecoder.decode(s), UTF_8)

    // blob grammar: b64(col):typ:b64(min):b64(max)[:nulls] — the
    // optional 5th field degrades to unknown on both sides (old
    // blobs parse without it, old parsers would have ignored it had
    // they existed; only this engine reads these blobs)
    private[graft] def encodeStats(m: Map[String, ColStat]): String =
      m.toSeq.sortBy(_._1).map { case (c, st) =>
        val base = s"${b64e(c)}:${st.typ}:${b64e(st.min)}:${b64e(st.max)}"
        if (st.nulls >= 0) s"$base:${st.nulls}" else base
      }.mkString(";")

    private[graft] def decodeStats(s: String): Map[String, ColStat] =
      if (s.isEmpty) Map.empty
      else s.split(';').iterator.map { part =>
        val t = part.split(':')
        b64d(t(0)) -> ColStat(t(1).charAt(0), b64d(t(2)), b64d(t(3)),
          if (t.length >= 5) t(4).toLong else -1L)
      }.toMap

    /** Columns worth indexing, capped at 32 (Delta's
      * dataSkippingNumIndexedCols discipline). Unsupported types
      * (decimals, nested, binary) simply collect no stats — their
      * predicates scan everything, correctly. */
    private[graft] def statColsOf(
        schema: org.apache.spark.sql.types.StructType): Map[String, Char] = {
      import org.apache.spark.sql.types._
      schema.fields.iterator.flatMap { f =>
        f.dataType match {
          case IntegerType | LongType | ShortType | ByteType | DateType =>
            Some(f.name -> 'L')
          case DoubleType | FloatType => Some(f.name -> 'D')
          case StringType => Some(f.name -> 'S')
          case _ => None
        }
      }.take(32).toMap
    }

    /** DATA SKIPPING: the files of version v that can contain rows with
      * `column` in [lo, hi] (both inclusive), decided from manifest
      * stats alone. Bounds: Long (integral / date as epoch-day), Double,
      * or String. Files lacking stats for the column are kept. */
    def filesInRange(root: String, v: Int, column: String,
        lo: Any, hi: Any): Seq[String] =
      filesWhere(root, v, Seq((column, lo, hi)))

    /** CONJUNCTIVE skipping: files surviving EVERY (column, lo, hi)
      * range. This is what a z-ordered layout is FOR — the Morton
      * interleave makes per-file ranges near-disjoint in BOTH clustered
      * dimensions, so a two-column predicate multiplies the two skip
      * fractions instead of taking their minimum. */
    def filesWhere(root: String, v: Int,
        preds: Seq[(String, Any, Any)]): Seq[String] =
      statEntries(root, v).filter(entryMatches(_, preds)).map(_.path)

    /** Can this file hold a row satisfying EVERY range? The single
      * stats decision point — filesWhere and the DSv2 connector's
      * pushdown both route here. Bounds may be null (one-sided
      * predicates: `col > v` prunes on lo alone). */
    private[graft] def entryMatches(e: FileEntry,
        preds: Seq[(String, Any, Any)]): Boolean = {
      val st = decodeStats(e.stats)
      preds.forall { case (column, lo, hi) =>
        st.get(column) match {
          case None => true // no stats — cannot prune, stay correct
          // bounds-less entry (all-null file recording only a null
          // count) or a degenerate empty-string bound: range pruning
          // has nothing sound to compare — keep the file
          case Some(cs) if cs.min.isEmpty || cs.max.isEmpty => true
          case Some(cs) => cs.typ match {
            case 'L' =>
              (hi == null || toL(hi) >= cs.min.toLong) &&
                (lo == null || toL(lo) <= cs.max.toLong)
            case 'D' =>
              // a NaN bound cannot prune: under Spark semantics NaN is
              // ordered GREATEST and equal to itself, while the IEEE
              // comparisons below would read `NaN >= min` as false and
              // wrongly prune EVERY file — keep them all and let the
              // residual filter apply Spark's NaN ordering exactly
              (hi == null || toD(hi).isNaN ||
                toD(hi) >= cs.min.toDouble) &&
                (lo == null || toD(lo).isNaN ||
                  toD(lo) <= cs.max.toDouble)
            case _ =>
              (hi == null || utf8cmp(hi.toString, cs.min) >= 0) &&
                (lo == null || utf8cmp(lo.toString, cs.max) <= 0)
          }
        }
      }
    }

    /** Can this file hold a row with NULL in `col`? False only when
      * its stats RECORD zero nulls (r16 null counts) — `IS NULL`
      * file pruning. Unknown (legacy blob, unindexed or renamed-away
      * column, all-null file whose stats dropped) conservatively
      * keeps the file. */
    private[graft] def entryCanHaveNull(e: FileEntry,
        col: String): Boolean =
      decodeStats(e.stats).get(col) match {
        case Some(cs) => cs.nulls != 0
        case None => true
      }

    /** Can this file hold a row with a NON-null `col`? False only
      * when the recorded null count equals the recorded row count —
      * the all-null file an `IS NOT NULL` conjunct can skip without
      * opening. */
    private[graft] def entryCanHaveValue(e: FileEntry,
        col: String): Boolean =
      decodeStats(e.stats).get(col) match {
        case Some(cs) => !(cs.nulls >= 0 && e.rows >= 0 &&
          cs.nulls == e.rows)
        case None => true
      }

    private def toL(a: Any): Long = a match {
      case n: Number => n.longValue()
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case o => o.toString.toLong
    }
    private def toD(a: Any): Double = a match {
      case n: Number => n.doubleValue()
      case o => o.toString.toDouble
    }
    // parquet UTF8 stats order = unsigned byte order, NOT Java's
    // UTF-16 compareTo (they diverge past the BMP) — compare bytes
    private def utf8cmp(a: String, b: String): Int = {
      val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }

    /** Skipping read: version v filtered to `column` in [lo, hi]. The
      * connector's pushdown prunes files by manifest stats (the
      * [[filesInRange]] decision) and Spark re-applies the predicate
      * exactly (stats pruning is file-granular; the residual filter
      * restores row granularity). The scan that results opens only
      * surviving files — at 100 TB with a clustered layout
      * (write_zordered / optimize zorderBy) that is the difference
      * between a full-table scan and a few files. */
    def readRange(s: SparkSession, root: String, v: Int, column: String,
        lo: Any, hi: Any): DataFrame =
      readWhere(s, root, v, Seq((column, lo, hi)))

    /** Conjunctive skipping read — see [[filesWhere]]; every predicate
      * is re-applied exactly on the surviving files. */
    def readWhere(s: SparkSession, root: String, v: Int,
        preds: Seq[(String, Any, Any)]): DataFrame =
      preds.foldLeft(read(s, root, v)) { case (df, (column, lo, hi)) =>
        val lower =
          if (lo == null) lit(true) else col(column) >= lit(boundLit(lo))
        val upper =
          if (hi == null) lit(true) else col(column) <= lit(boundLit(hi))
        df.filter(lower && upper)
      }

    private def boundLit(a: Any): Any = a match {
      case d: java.time.LocalDate => java.sql.Date.valueOf(d)
      case o => o
    }

    // ------------------------------------------------------------------
    // DELETION VECTORS — merge-on-read deletes (the modern lakehouse
    // delete path; Delta deletion vectors / Hudi's merge-on-read log,
    // key-granular variant): a delete is a METADATA commit — parent
    // pointers carried verbatim, zero data files touched — plus one
    // small dir of (key, pt_year) tombstones, written once by the
    // tasks and published by pointer: the version's deletion vector
    // ([[Dv]]) is its parent's list of tombstone dirs plus the new
    // one. Reads of that version drop tombstoned rows as they decode
    // (the connector's reader loads each dir once per executor JVM —
    // pending deletes stay bounded by rewrite cadence), so a
    // GDPR-style delete of a million keys from a 100 TB table costs
    // O(deleted keys), not a partition rewrite. Any later commit that
    // REWRITES a partition physically purges it (its fresh files come
    // from DV-applied reads) and drops that year from the carried
    // entries — rewrites SUPERSEDE pending deletes, so a rewritten
    // partition's rows are exactly what its files say. Time travel,
    // CDF (delete rows appear in the feed via the dv-aware
    // changedYears + DV-applied reads), optimize, and vacuum all
    // compose; the streaming source skips DV commits (they add no
    // files) — the append-stream contract, documented like Delta's
    // ignoreDeletes.
    // ------------------------------------------------------------------

    private def dvRoot(root: String): HPath = new HPath(root, "_dv")

    /** Age past which an UNREFERENCED tombstone dir is presumed a race
      * loser's leftover rather than an in-flight commit (vacuum's
      * orphan horizon). private[graft] var so the vacuum spec can
      * shrink it to exercise the orphan-reclaim path. */
    private[graft] var dvOrphanHorizonMs: Long = 60L * 60 * 1000

    /** A FRESH, token-uniquified tombstone dir for version v. The
      * token matters for the commit race: the tasks write the dir
      * BEFORE the manifest rename that arbitrates the version, so a
      * racing writer that LOSES never shares a dir with the winner; the
      * loser's dir is an unreferenced orphan that vacuum reclaims past
      * [[dvOrphanHorizonMs]]. Token-unique paths also make the
      * executor-side [[graft.sources.DvCache]] sound: a dir, once
      * committed, never holds different bytes. */
    private[graft] def freshDvPath(root: String, v: Int): String =
      new HPath(dvRoot(root), s"v$v-${token()}").toString

    /** The version's pending deletion vector, if any. */
    def dvOf(root: String, v: Int): Option[Dv] = top(root, v).dv

    /** The version's pending-tombstone bytes (0 when no deletes are
      * pending) — the OPTIMIZE purge-debt telemetry, one FS content
      * summary per tombstone dir. */
    def pendingDvBytes(root: String, v: Int): Long =
      dvOf(root, v).toSeq.flatMap(_.entries).map { e =>
        val hp = new HPath(e.dir)
        val fs = fsFor(hp)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      }.sum

    /** Operator-facing table telemetry (the `DESCRIBE DETAIL` analog):
      * version, live file count/bytes (from manifest metadata alone),
      * partition count, and the pending deletion-vector debt —
      * tombstone bytes and tombstoned partitions — so deployments SEE
      * when purge cadence (OPTIMIZE) is falling behind: every executor
      * reading a tombstoned version holds its tombstones in memory. */
    def describe(root: String, v: Int): Map[String, String] = {
      val es = entries(root, v)
      val dv = dvOf(root, v)
      Map(
        "version" -> v.toString,
        "num_files" -> es.size.toString,
        "total_bytes" -> es.map(_._2).sum.toString,
        "num_partitions" -> pointers(root, v).size.toString,
        "pending_dv_bytes" -> pendingDvBytes(root, v).toString,
        "pending_dv_years" ->
          dv.map(_.years.mkString(",")).getOrElse(""),
        "commit_ts" -> commitTs(root, v).map(_.toString).getOrElse(""))
    }

    /** MERGE-ON-READ DELETE: commit `doomed` (columns: keyCol, pt_year)
      * as version v's deletion vector — parent data pointers carried
      * VERBATIM (no file moves, no rewrites; spec pins mtimes and the
      * identical file list), one fresh tombstone dir appended to the
      * parent's still-pending entries. Cost: one job writing
      * O(deleted keys) + one manifest; the pending set is never read. */
    def commitDelete(s: SparkSession, root: String, v: Int,
        keyCol: String, doomed: DataFrame): Unit = {
      require(v > 0, "a delete needs a parent version")
      val parent = preflight(root, v)
      dvKeyCheck(parent, keyCol, "delete")
      val files = graft.sources.SnapshotWriteJob.writeTombstones(s, root,
        freshDvPath(root, v),
        doomed.select(col(keyCol),
          col("pt_year").cast("int").as("pt_year")))
      require(files.nonEmpty, "an empty delete commits nothing")
      val ts = drawTs(parent)
      publish(root, parent.next(v, ts).copy(
        dv = Some(addTombstones(parent, keyCol, files, ts))))
    }

    /** A new tombstone batch must key on the pending vector's column. */
    private def dvKeyCheck(parent: Top, keyCol: String,
        what: String): Unit =
      parent.dv.foreach(d => require(d.key == keyCol,
        s"pending deletion vector keys on '${d.key}'; a '$keyCol' " +
        s"$what must wait for a rewrite to purge it"))

    /** Version v's deletion vector: the parent's entries plus ONE new
      * entry, stamped `below = ts`, for the dir holding `files` (each a
      * task's (path, years tombstoned)). The files were written once by
      * their tasks and are never opened here; one listing of the dir
      * deletes what no committed task wrote (a crashed attempt's
      * leftover), so readers load exactly the committed files. Legacy
      * entries (`below = Long.MaxValue`) take `ts`: every file that
      * exists now was born before this commit, so they kill what they
      * killed, and the fresh files this commit appends stay alive —
      * which keeps every entry birth-aware for [[appendPreflight]]. */
    private def addTombstones(parent: Top, keyCol: String,
        files: Seq[(String, Seq[Int])], ts: Long): Dv = {
      dvKeyCheck(parent, keyCol, "row-level delta")
      val dirs = files.map(f => new HPath(f._1).getParent).distinct
      require(dirs.size == 1, s"tombstone files span dirs $dirs")
      val fs = fsFor(dirs.head)
      val kept = files.map(f => fs.makeQualified(new HPath(f._1))).toSet
      fs.listStatus(dirs.head).map(_.getPath)
        .filterNot(kept).foreach(fs.delete(_, false))
      val fresh = DvEntry(dirs.head.toString, ts,
        files.flatMap(_._2).distinct.sorted)
      val prior = parent.dv.toSeq.flatMap(_.entries).map(e =>
        if (e.below == Long.MaxValue) e.copy(below = ts) else e)
      Dv(keyCol, prior :+ fresh)
    }

    /** Field-metadata key recording a column's PREVIOUS physical
      * names after `ALTER COLUMN ... RENAME` (newest first) — Iceberg's
      * name-mapping idea expressed over schema-as-metadata: the rename
      * is an O(1-manifest) schema bump, data files never rewrite, and
      * readers resolve a column in an old file by trying its alias
      * chain. Rides inside `#schema=` JSON, so every commit path
      * carries it for free and `VERSION AS OF` serves each version's
      * own mapping. */
    private[graft] val AliasesKey = "graft.aliases"

    /** Field-metadata key (anchored on the immutable partition-key
      * field) listing RETIRED physical names — dropped columns and
      * their alias chains. Old data files may still carry these
      * names, so re-ADDing one would resurrect stale values; the DDL
      * path refuses them. */
    private[graft] val ReservedKey = "graft.reserved"

    /** Field-metadata key (anchored on pt_year like [[ReservedKey]])
      * naming the table's unique row-identity column — declared via
      * `CREATE TABLE ... TBLPROPERTIES ('rowKey' = '<col>')`. A table
      * WITH a rowKey runs SQL UPDATE / MERGE and every DELETE whose
      * filters do not all bound pt_year as MERGE-ON-READ row deltas
      * (tombstone + append, see [[commitDelta]]); a DELETE bounded by
      * pt_year alone drops partitions ([[graft.sources
      * .SnapshotSourceTable.canDeleteWhere]]). Without a rowKey they
      * stay group copy-on-write. */
    private[graft] val RowKeyKey = "graft.rowKey"

    /** The declared row-identity column, when the table has one. */
    private[graft] def rowKeyOf(
        schema: org.apache.spark.sql.types.StructType): Option[String] =
      schema.fields.find(_.name == "pt_year")
        .filter(_.metadata.contains(RowKeyKey))
        .map(_.metadata.getString(RowKeyKey))
        .filter(schema.fieldNames.contains)

    /** Field-metadata key (anchored on pt_year) holding the table's
      * comma-separated BLOOM-FILTER columns — declared via `CREATE
      * TABLE ... TBLPROPERTIES ('bloomFilterColumns' = 'a,b')`. Every
      * write path enables parquet-mr's NATIVE per-row-group bloom
      * filters on them (adaptive sizing), and the read side's
      * equality predicates (Spark's ParquetFilters, through the
      * connector's parquet reader) consult those blooms to skip row
      * groups a point probe cannot match — the file-skipping shape
      * Delta's bloom index and Iceberg's parquet blooms provide for `=`/`IN` lookups on
      * high-cardinality, non-clustered keys that min/max stats can't
      * discriminate. Executor-parallel (each reader consults its own
      * file's footer), O(1) manifest cost, false-negative-free by
      * parquet's bloom contract; legacy files simply lack the bloom
      * and read unchanged. */
    private[graft] val BloomColsKey = "graft.bloomCols"

    /** The declared bloom columns present in `schema` (empty when
      * undeclared). */
    private[graft] def bloomColsOf(
        schema: org.apache.spark.sql.types.StructType): Seq[String] =
      schema.fields.find(_.name == "pt_year")
        .filter(_.metadata.contains(BloomColsKey))
        .map(_.metadata.getString(BloomColsKey)
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
        .filter(schema.fieldNames.contains)

    /** current name → older physical names, newest first. */
    private[graft] def colAliases(
        schema: org.apache.spark.sql.types.StructType)
        : Map[String, Seq[String]] =
      schema.fields.iterator.flatMap { f =>
        if (f.metadata.contains(AliasesKey))
          Some(f.name -> f.metadata.getStringArray(AliasesKey).toSeq)
        else None
      }.toMap

    /** Physical names no current or future column may claim. */
    private[graft] def reservedNames(
        schema: org.apache.spark.sql.types.StructType): Set[String] = {
      val dropped = schema.fields.find(_.name == "pt_year")
        .filter(_.metadata.contains(ReservedKey))
        .map(_.metadata.getStringArray(ReservedKey).toSet)
        .getOrElse(Set.empty)
      dropped ++ colAliases(schema).values.flatten
    }

    /** Version v through the connector scan ([[graft.sources
      * .SnapshotFrame]]): the version's RECORDED schema (no footer
      * sampling — a data file missing a later-added column null-fills
      * it, exactly how a lakehouse serves pre-evolution files through
      * the current schema), manifest-planned files (no listing, no stat
      * calls), pending tombstones and RENAME alias chains applied as
      * rows decode. Filters on the result push down: pt_year conjuncts
      * select partitions from the manifest, comparisons prune files by
      * their manifest stats. */
    def read(s: SparkSession, root: String, v: Int): DataFrame =
      graft.sources.SnapshotFrame(s, root, top(root, v))

    /** Read exactly the given manifest entries (per year) of the state
      * `at` — the file-granular DELETE's touch-scan and rewrite read.
      * No manifest is read: the entries carry paths, sizes and births,
      * `at` the schema and tombstones. */
    private[graft] def readFiles(s: SparkSession, root: String, at: Top,
        files: Seq[(Int, Seq[FileEntry])]): DataFrame =
      graft.sources.SnapshotFrame(s, root, at, Some(files))

    /** Partition-scoped read: the pt_year filter selects partitions from
      * the top manifest, so unselected partitions' m-files are never
      * read and their files never opened. An empty selection resolves
      * the version's schema with zero row reads. */
    def readPartitions(s: SparkSession, root: String, v: Int,
        years: Seq[Int]): DataFrame =
      read(s, root, v)
        .filter(col("pt_year").isin(years.map(Integer.valueOf): _*))

    /** Write `slice`'s rows of the `touched` partitions as fresh data
      * files named `<prefix>_y<year>_…` straight under `data/`
      * ([[graft.sources.SnapshotWriteJob.write]]: one Spark job, stats
      * from the writing tasks, no stage directory, no rename); returns,
      * PER TOUCHED YEAR, its fresh entries (their `born` is stamped at
      * publish). Paths are built from the caller's `root` string, so
      * manifests store root-relative forms verbatim. The files carry
      * the bloom filters `parent`'s schema declares ([[BloomColsKey]]). */
    private def writeDataFiles(s: SparkSession, root: String,
        prefix: String, slice: DataFrame, touched: Seq[Int],
        parent: Top,
        distribute: Boolean = true): Seq[(Int, Seq[FileEntry])] =
      if (touched.isEmpty) Seq.empty
      else {
        val src = slice
          .filter(col("pt_year").isin(touched.map(Integer.valueOf): _*))
        // WRITE DISTRIBUTION (Iceberg's write.distribution-mode=hash +
        // AQE rebalance, guide §2.4/§6): cluster the rows by the
        // partition column so each partition's files come from as few
        // tasks as the data needs — without it the write inherits the
        // slice's upstream partitioning, which at bench scale is either
        // 1 task (single-split scan: the whole write serializes on one
        // core) or N tasks × P years = N·P near-empty files that every
        // later read pays for. REBALANCE is scale-adaptive: AQE
        // coalesces small partitions AND splits skewed ones against
        // advisoryPartitionSizeInBytes, so a 100 TB partition still
        // fans out. Callers that pre-shape their slice (optimize's
        // byte-targeted range exchange) or deliberately fragment (the
        // optimize-gate fixtures) pass distribute=false.
        val shaped = if (distribute) src.hint("rebalance", col("pt_year"))
                     else src
        graft.sources.SnapshotWriteJob.write(s, root, prefix, shaped,
          parent.schema.map(bloomColsOf).getOrElse(Nil))
      }

    // ------------------------------------------------------------------
    // THE COMMIT PROTOCOL. Every commit kind (commit, commitDelete,
    // commitReplaceEntries, commitAppend/commitAppendEntries,
    // commitDelta, restore, shallowClone, publishBranch) is a policy
    // that builds the next version's `Top` from its parent's:
    //  - `preflight` checks the version race and reads the parent's
    //    top manifest, once;
    //  - `drawTs` stamps the commit, once per attempt — the fresh
    //    files' `born`, the tombstones' `__below` and the manifest's
    //    `#ts` are that one value;
    //  - `mergePointers` writes the touched partitions' m-files;
    //  - `publish` writes the top manifest, the only writer of one.
    // ------------------------------------------------------------------

    /** Optimistic concurrency: history is linear and a version commits
      * once. Checks that parent v-1 is committed and v is still free,
      * and returns the parent's top manifest ([[Top.empty]] for v0).
      * Two writers racing to publish the same v can both pass; the
      * rename-no-replace in [[publish]] lets exactly one win, and the
      * loser rebases on the new head — the same protocol a lakehouse
      * log runs (`SnapshotSourceTable.commitRetrying` retries on the
      * "conflict: version" message). */
    private def preflight(root: String, v: Int): Top = {
      val parent = if (v == 0) Some(Top.empty) else readTop(root, v - 1)
      require(parent.isDefined,
        s"cannot commit version $v: parent v${v - 1} was never committed")
      val m = manifest(root, v)
      require(!fsFor(m).exists(m),
        s"conflict: version $v is already committed — rebase on the " +
        "current head and retry")
      parent.get
    }

    /** Wall-clock hook — private[graft] var ONLY so the specs can
      * freeze or step the clock backwards to pin the same-millisecond
      * and clock-skew cases deterministically. */
    private[graft] var clock: () => Long = () => System.currentTimeMillis()

    /** The commit's stamp: wall-clock forced MONOTONIC per table —
      * `max(parent_ts + 1, now)`. Two commits landing in the same
      * millisecond (or a clock stepping backwards between commits)
      * would otherwise make `TIMESTAMP AS OF`'s at-or-before mapping
      * ambiguous: with monotonic stamps, version order and timestamp
      * order agree by construction, so the mapping is total and
      * deterministic (TimestampMonotonicSpec). Same discipline as
      * Delta's in-commit-timestamp monotonicity clamp. Drawn once per
      * commit attempt: a second draw could land below the first after
      * a clock step, leaving the manifest's `#ts` below its own files'
      * `born`, and a later delete's `__below` at or under it. */
    private def drawTs(parent: Top): Long = {
      val now = clock()
      parent.ts.fold(now)(p => math.max(p + 1, now))
    }

    /** Fresh entries stamped `born = ts`, appended per year to entries
      * carried verbatim (which keep their own `born`). */
    private def addsOf(fresh: Seq[(Int, Seq[FileEntry])], ts: Long,
        carried: Map[Int, Seq[FileEntry]] = Map.empty)
        : Map[Int, Seq[FileEntry]] =
      fresh.foldLeft(carried) { case (acc, (y, es)) =>
        acc.updated(y, acc.getOrElse(y, Nil) ++ es.map(_.copy(born = ts)))
      }

    /** The next version's pointer map: every `replaced` year drops its
      * parent pointer; every year with entries in `adds` gets a fresh
      * m-file `mfile(year)` listing the parent's entries (unless
      * replaced — a metadata line copy, no data file opens) plus the
      * adds; every other year carries its parent pointer verbatim, its
      * m-file neither re-read nor rewritten. */
    private def mergePointers(root: String, parent: Map[Int, String],
        replaced: Set[Int], adds: Map[Int, Seq[FileEntry]],
        mfile: Int => String): Map[Int, String] = {
      val fresh = adds.toSeq.sortBy(_._1).collect {
        case (y, es) if es.nonEmpty =>
          val base =
            if (replaced(y)) Nil
            else parent.get(y).map(readPartManifest).getOrElse(Nil)
          y -> writePartManifest(root, mfile(y), base ++ es)
      }
      (parent -- replaced) ++ fresh
    }

    /** Parent schema ∪ the written frame's (see [[mergeSchemas]]); a
      * parent recording no schema takes the frame's as is. */
    private def evolve(parent: Top,
        written: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      parent.schema.map(mergeSchemas(_, written)).getOrElse(written)

    private def token(): String =
      java.util.UUID.randomUUID().toString.take(8)

    /** Publish `next` as version `next.version` — the ONE writer of a
      * top manifest. The rename-no-replace in [[writeAtomic]]
      * arbitrates the version race (the loser throws); the per-root
      * lock serializes the local-FS check-then-rename within this JVM.
      * A txn-carrying commit also records its durable marker. */
    private def publish(root: String, next: Top): Unit = {
      val v = next.version
      val m = manifest(root, v)
      lockFor(root).synchronized {
        writeAtomic(fsFor(m), new HPath(mdir(root), s".v$v.tmp"), m,
          Top.render(next))
      }
      next.txn.foreach { case (app, id) => recordTxnMarker(root, app, id) }
    }

    /** Commit `slice` — ALL rows of the touched partitions — as
      * version v. ONE Spark write covers every touched partition (a
      * per-partition write loop would pay one job-launch per partition
      * — 7× the scheduler overhead on a full-history commit for
      * identical bytes); each task routes its rows to one file per
      * pt_year ([[writeDataFiles]]). Then the atomic manifest rename
      * publishes.
      * A touched partition left with zero rows simply contributes no
      * files (reading it through any later version yields no rows —
      * the same observable state the empty file gave). Untouched
      * partitions carry by pointer; touched partitions' pending
      * deletion-vector tombstones purge ([[dvAfterRewrite]]).
      *
      * `carriedFiles`: a PARTIAL partition rewrite (file-granular
      * DELETE) carries the untouched files' entries verbatim into the
      * touched partition's fresh m-file — a metadata line copy, the
      * files themselves never open. Refused where pending
      * deletion-vector tombstones exist: a partial rewrite cannot
      * soundly purge them (carried files may still hold tombstoned
      * keys), and this commit purges touched years' tombstones.
      *
      * The version's schema is parent schema ∪ the slice's (new columns
      * append nullable; type changes refuse), recorded as metadata so
      * readers never sample footers. `schemaOverride` bypasses the
      * merge for the DDL path ONLY: ALTER COLUMN TYPE records a
      * deliberately-widened schema that the write-side merge would
      * (correctly) refuse as implicit. */
    def commit(s: SparkSession, root: String, v: Int, slice: DataFrame,
        touched: Seq[Int], txn: Option[(String, Long)] = None,
        carriedFiles: Map[Int, Seq[FileEntry]] = Map.empty,
        schemaOverride: Option[org.apache.spark.sql.types.StructType] =
          None,
        distribute: Boolean = true): Unit = {
      val parent = preflight(root, v)
      require(carriedFiles.keySet.subsetOf(touched.toSet),
        "carried file entries must belong to touched partitions")
      if (carriedFiles.nonEmpty)
        parent.dv.foreach { dv =>
          val hit = dv.years.toSet.intersect(carriedFiles.keySet)
          require(hit.isEmpty,
            s"partitions ${hit.mkString(",")} hold pending tombstones " +
            "— a partial (file-granular) rewrite there would purge " +
            "them unsoundly; rewrite the full partition instead")
        }
      val staged = writeDataFiles(s, root, s"v$v", slice, touched, parent,
        distribute)
      val schema = schemaOverride.getOrElse {
        if (v == 0) org.apache.spark.sql.types.StructType(
          slice.schema.fields.map(_.copy(nullable = true)))
        else evolve(parent, slice.schema)
      }
      val ts = drawTs(parent)
      // token-named m-files, like the data files: racing writers of v
      // never share a file below the top-manifest publish
      val mtok = token()
      publish(root, parent.next(v, ts).copy(schema = Some(schema),
        txn = txn, dv = dvAfterRewrite(parent, touched),
        pointers = mergePointers(root, parent.pointers, touched.toSet,
          addsOf(staged, ts, carriedFiles),
          y => s"m_v${v}_y${y}_$mtok.txt")))
    }

    /** Deletion-vector carry/purge for a commit REWRITING `touched`
      * partitions: a rewritten partition's fresh files come from
      * DV-applied reads (or deliberately re-introduce rows), so its
      * years drop from every entry — rewrites supersede pending
      * deletes; untouched partitions' entries carry by pointer (shared
      * by [[commit]] and [[commitReplaceEntries]]). Metadata only: no
      * tombstone dir is read or written. */
    private def dvAfterRewrite(parent: Top, touched: Seq[Int]): Option[Dv] =
      parent.dv.flatMap(_.without(touched.toSet))

    /** GROUP-REPLACE commit — the write half of the SQL row-level
      * operations (UPDATE / MERGE / group-based DELETE over the DSv2
      * [[graft.sources.SnapshotRowLevelOperation]]): version v =
      * parent with the `replaced` partitions' pointers SWAPPED for
      * their staged fresh entries (a replaced partition with no fresh
      * rows drops its pointer — it is now empty), while staged entries
      * for partitions OUTSIDE `replaced` (a MERGE's NOT-MATCHED
      * inserts, an UPDATE moving rows across pt_year) APPEND to the
      * parent's entry list. Untouched partitions carry by pointer.
      * Replaced partitions' pending deletion-vector tombstones purge
      * (the rewrite's fresh files come from DV-applied reads);
      * append-target partitions holding pending tombstones REFUSE,
      * the same guard as [[commitAppend]].
      *
      * `carried`: the file-granular half of a group rewrite — stats-
      * excluded files of REPLACED partitions whose manifest entries
      * re-point verbatim (never opened, never rewritten; mtimes are
      * spec-pinned), alongside the freshly staged replacement files.
      * Keys must be replaced partitions: carrying into an
      * append-shaped partition would duplicate its parent entries. */
    private[graft] def commitReplaceEntries(root: String, v: Int,
        staged: Seq[(Int, Seq[FileEntry])],
        replaced: Seq[Int],
        carried: Map[Int, Seq[FileEntry]] = Map.empty): Unit = {
      require(v > 0, "a group-replace needs a parent version")
      val parent = preflight(root, v)
      require(carried.keySet.subsetOf(replaced.toSet),
        "carried files must belong to replaced partitions")
      val appendYears =
        staged.collect { case (y, es) if es.nonEmpty => y }
          .filterNot(replaced.contains)
      parent.dv.foreach { dv =>
        val hit = dv.years.intersect(appendYears)
        require(hit.isEmpty,
          s"partitions ${hit.mkString(",")} hold pending deletion-" +
          "vector tombstones; inserting there could silently lose " +
          "re-inserted keys to the tombstone filter — run " +
          "optimize(purgeTombstoned) first")
      }
      if (parent.schema.isEmpty)
        throw new IllegalStateException(
          s"version ${v - 1} of $root records no schema")
      val ts = drawTs(parent)
      val mtok = token()
      publish(root, parent.next(v, ts).copy(
        dv = dvAfterRewrite(parent, replaced),
        pointers = mergePointers(root, parent.pointers, replaced.toSet,
          addsOf(staged, ts, carried), y => s"m_v${v}_y${y}_$mtok.txt")))
    }

    /** TRUE APPEND commit — `INSERT INTO` semantics at O(batch) cost:
      * the batch's rows land as FRESH files and each touched
      * partition's new m-file is the PARENT's entry list ++ the fresh
      * entries — parent data files are neither read nor rewritten
      * (spec pins their mtimes), so appending a 1 GB batch into a
      * 100 TB partition costs the batch write plus an O(files-in-
      * partition) metadata line copy, never a copy-on-write rewrite
      * (that's [[commit]]'s job, for merges). Schema evolution rules
      * match commit's (parent ∪ batch, type changes refuse). Appends
      * into partitions holding PENDING deletion-vector tombstones are
      * REFUSED loudly: the key-granular DV filter would silently
      * kill a re-inserted tombstoned key — purge first (OPTIMIZE), the
      * same refusal WAP staging makes. `overTombstones` lifts the
      * refusal when the tombstones are birth-aware (see
      * [[appendPreflight]]). */
    def commitAppend(s: SparkSession, root: String, v: Int,
        batch: DataFrame, txn: Option[(String, Long)] = None,
        overTombstones: Boolean = false): Unit = {
      val touched = batch.select("pt_year").distinct()
        .collect().map { r =>
          // same loud guard as the overwrite paths: a NULL key would
          // unbox to year 0 here and then be SILENTLY dropped by
          // writeDataFiles' isin filter — quiet row loss, never ok
          require(!r.isNullAt(0),
            "insert batch contains a NULL pt_year — the partition key " +
            "must be non-null (no __HIVE_DEFAULT_PARTITION__ " +
            "fallback); filter or default it explicitly")
          r.getInt(0)
        }.toSeq.sorted
      require(touched.nonEmpty, "an empty append commits nothing")
      val parent = appendPreflight(root, v, touched, overTombstones)
      // token-uniquified names: two appenders RACING to the same v
      // write without file-level collisions — the manifest rename alone
      // arbitrates, the loser rebases, its orphans await vacuumOrphans
      val staged = writeDataFiles(s, root, s"v$v", batch, touched, parent)
      commitAppendEntries(root, v, parent, staged, batch.schema, txn)
    }

    /** The manifest-merge half of [[commitAppend]], shared with the SQL
      * write and the sink (whose executor-side writers have already
      * produced the fresh files): publish `staged` fresh entries as
      * version v on `parent` (from [[appendPreflight]]) — each touched
      * partition's new m-file = the PARENT's entry lines ++ the fresh
      * entries (metadata copy, no data file opened), untouched
      * partitions and the pending deletion vector carry. */
    private[graft] def commitAppendEntries(root: String, v: Int,
        parent: Top, staged: Seq[(Int, Seq[FileEntry])],
        batchSchema: org.apache.spark.sql.types.StructType,
        txn: Option[(String, Long)]): Unit = {
      val ts = drawTs(parent)
      // m-file names carry a token too: append racers must not collide
      // below the manifest rename that arbitrates them
      val mtok = token()
      publish(root, parent.next(v, ts).copy(
        schema = Some(evolve(parent, batchSchema)), txn = txn,
        pointers = mergePointers(root, parent.pointers, Set.empty,
          addsOf(staged, ts), y => s"m_v${v}_y${y}_$mtok.txt")))
    }

    /** MERGE-ON-READ row-level commit (the write half of the DSv2
      * SupportsDelta operation — SQL UPDATE / MERGE / DELETE on a
      * table declaring a `rowKey`): version v = parent pointers with
      *
      *  - removed rows as TOMBSTONES: `tombstones` are the files the
      *    tasks already wrote into one fresh dir (each with the years it
      *    tombstoned), published as a new [[DvEntry]] with
      *    `below = ts` (this commit's ts-chain value) — never read
      *    back, never rewritten;
      *  - new/updated rows as TRUE-APPEND entries with `born = ts`.
      *
      * Equality of `born` and `below` is the whole trick: the
      * tombstone half of an UPDATE kills the key's OLD rows (their
      * files were born strictly earlier) while the re-inserted row in
      * this commit's own files is exempt (`below > born` is false) —
      * so a 10-row UPDATE to a 10 GB partition costs a 10-row append
      * plus a 10-row tombstone file, never a partition rewrite. The
      * group-CoW twin remains the compaction-time path (OPTIMIZE
      * purges the debt physically). Data pointers carry VERBATIM —
      * untouched files keep their mtimes (spec-pinned). */
    private[graft] def commitDelta(root: String, v: Int, keyCol: String,
        staged: Seq[(Int, Seq[FileEntry])],
        tombstones: Seq[(String, Seq[Int])],
        writeSchema: org.apache.spark.sql.types.StructType): Unit = {
      require(v > 0, "a row-level delta needs a parent version")
      val parent = preflight(root, v)
      val ts = drawTs(parent)
      // a task's tombstone file is created on its first tombstone
      // (SnapshotDeltaWriter.delete), so none means none deleted and
      // the parent's vector carries
      val dv =
        if (tombstones.isEmpty) parent.dv
        else Some(addTombstones(parent, keyCol, tombstones, ts))

      // fresh data files append (parent entries ++ fresh, born = ts)
      val adds = addsOf(staged, ts)
      if (dv.isEmpty && adds.isEmpty) return // matched nothing
      val mtok = token()
      publish(root, parent.next(v, ts).copy(
        schema = Some(evolve(parent, writeSchema)), dv = dv,
        pointers = mergePointers(root, parent.pointers, Set.empty, adds,
          y => s"m_v${v}_y${y}_$mtok.txt")))
    }

    /** Pre-flight for an APPEND of `touched` partitions as version v
      * (shared by commitAppend, the SQL write and the sink): the
      * version race ([[preflight]]), and no touched partition holds
      * pending tombstones — unless `overTombstones` and every entry
      * covering a touched partition is birth-aware (stamped `below`;
      * every entry written since the list format is). Returns the
      * parent's top manifest. */
    private[graft] def appendPreflight(root: String, v: Int,
        touched: Seq[Int], overTombstones: Boolean = false): Top = {
      require(v > 0, "append needs an initialized table (v0)")
      val parent = preflight(root, v)
      parent.dv.foreach { dv =>
        // a birth-aware entry kills only rows of files born before its
        // commit, and the appended files are born after every one of
        // them — so the append is sound; an unstamped legacy entry
        // would kill the re-inserted keys
        val hit = dv.years.intersect(touched)
        val aware = dv.entries.forall(e =>
          e.below != Long.MaxValue || e.years.intersect(touched).isEmpty)
        require(hit.isEmpty || (overTombstones && aware),
          s"partitions ${hit.mkString(",")} hold pending deletion-" +
          "vector tombstones; an append there could silently lose " +
          "re-inserted keys to the tombstone filter — run " +
          "optimize(purgeTombstoned) first")
      }
      parent
    }

    /** Whether a write planned on version `from` may publish unchanged
      * on `head`: every commit since only appended (`from`'s entries all
      * listed, no tombstone dir added) and left `replaced` untouched. */
    private[graft] def onlyAppendedSince(root: String, from: Int, head: Top,
        replaced: Set[Int]): Boolean = {
      val base = top(root, from)
      def paths(m: Option[String]) =
        m.toSeq.flatMap(readPartManifest).map(_.path).toSet
      replaced.forall(y => base.pointers.get(y) == head.pointers.get(y)) &&
        head.dv.forall(_.entries.forall(e => base.dv.exists(_.entries
          .exists(_.dir == e.dir)))) &&
        base.pointers.forall { case (y, m) =>
          head.pointers.get(y).contains(m) ||
            paths(Some(m)).subsetOf(paths(head.pointers.get(y)))
        }
    }

    /** The version's commit wall-clock (epoch millis, recorded in its
      * top manifest) — what `TIMESTAMP AS OF` resolves against. Absent
      * on manifests written before timestamps were recorded. */
    def commitTs(root: String, v: Int): Option[Long] = top(root, v).ts

    /** TIMESTAMP AS OF resolution: the LATEST version committed at or
      * before `tsMillis` (Delta's contract). Fails loudly when every
      * retained version is newer, and treats versions without a
      * recorded timestamp as unavailable for time-based travel. */
    def versionAt(root: String, tsMillis: Long): Int = {
      val vs = versions(root)
      val dated = vs.flatMap(v => commitTs(root, v).map(v -> _))
      dated.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
        throw new IllegalArgumentException(
          s"no version of $root committed at or before $tsMillis " +
          s"(earliest dated: ${dated.headOption.map(_._2)})"))
    }

    /** Mid-history stream subscription (Delta's `startingTimestamp`):
      * the EARLIEST version committed at or after `tsMillis` — the
      * stream then serves [that version, head] and tails. A timestamp
      * past every retained commit starts at head+1 (only future
      * commits serve — an idle tail, not an error, so a subscription
      * can be provisioned before its producer). Undated versions
      * (pre-timestamp manifests) are unavailable for time-based
      * starts, same as [[versionAt]]. */
    def versionAtOrAfter(root: String, tsMillis: Long): Int = {
      val vs = versions(root)
      vs.flatMap(v => commitTs(root, v).map(v -> _))
        .filter(_._2 >= tsMillis).map(_._1).minOption
        .getOrElse(vs.max + 1)
    }

    /** The (application, batchId) recorded with version v's commit, if
      * any — the Delta `txn` action's analog, written by idempotent
      * streaming writers. */
    def txnOf(root: String, v: Int): Option[(String, Long)] =
      top(root, v).txn

    // per-app durable txn MARKERS, the vacuum-proof half of
    // exactly-once: the manifest txn line dies with its version when
    // vacuum expires it (an idle stream can outlive retention), so
    // each txn commit ALSO drops an empty marker file
    // `_txns/<b64 app>_<batchId>` — named by value, so creation is
    // atomic on every store and replay detection needs no read, only
    // a listing. Older markers for the app are pruned best-effort
    // (batchIds are monotone per app), keeping the dir O(apps).
    private def txnDir(root: String): HPath = new HPath(root, "_txns")

    private def recordTxnMarker(root: String, app: String,
        batchId: Long): Unit = {
      val dir = txnDir(root)
      val fs = fsFor(dir)
      val enc = b64e(app)
      try {
        fs.create(new HPath(dir, s"${enc}_$batchId"), true).close()
        fs.listStatus(dir).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(s"${enc}_"))
          .filter(_.getName.stripPrefix(s"${enc}_").toLong < batchId)
          .foreach(p => fs.delete(p, false))
      } catch { case _: java.io.IOException => () }
      // marker write is belt-and-suspenders OVER the manifest txn
      // line — a transient failure here must not fail a commit that
      // already published (the line still guards until vacuum)
    }

    private def markerTxn(root: String, app: String): Option[Long] = {
      val dir = txnDir(root)
      val fs = fsFor(dir)
      val enc = b64e(app)
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"${enc}_"))
        .flatMap(n => n.stripPrefix(s"${enc}_").toLongOption)
        .maxOption
    }

    /** Latest batchId `app` has committed — the max of the head-first
      * manifest scan (each top manifest a KB of metadata; a steady
      * writer hits it on the first or second probe) and the app's
      * durable `_txns` marker, which survives vacuum expiring the
      * version that carried the txn line. */
    def lastTxn(root: String, app: String): Option[Long] = {
      val fromManifests = versions(root).sorted.reverseIterator
        .flatMap(v => txnOf(root, v).filter(_._1 == app).map(_._2))
        .nextOption()
      (fromManifests.toSeq ++ markerTxn(root, app).toSeq).maxOption
    }

    /** IDEMPOTENT commit for at-least-once writers (foreachBatch): the
      * batch lands as the next version with its (app, batchId) recorded
      * in the top manifest; a REPLAYED batchId is recognized and skipped
      * — the exactly-once discipline a streaming sink needs over an
      * at-least-once delivery, exactly Delta's txn-action protocol.
      * Returns true iff a version was committed. */
    def commitIfNew(s: SparkSession, root: String, app: String,
        batchId: Long, slice: DataFrame, touched: Seq[Int]): Boolean = {
      if (lastTxn(root, app).exists(_ >= batchId)) false
      else {
        val head = versions(root).maxOption
          .getOrElse(throw new IllegalStateException(
            s"commitIfNew needs an initialized table at $root (v0)"))
        commit(s, root, head + 1, slice, touched, Some((app, batchId)))
        true
      }
    }

    /** OPTIMIZE — small-files compaction as a DATA-UNCHANGED snapshot
      * commit (the Delta `OPTIMIZE` maintenance op): partitions of
      * version `newV - 1` holding more than `maxFilesPerPartition`
      * files have their rows rewritten into BYTE-TARGETED files and
      * publish as version `newV`; right-sized partitions CARRY OVER
      * untouched. Returns the compacted partitions (empty ⇒ nothing
      * fragmented, no commit made).
      *
      * The rewrite exchange is sized from manifest byte metadata, not
      * hardcoded to one-file-per-partition: each fragmented partition's
      * on-disk bytes (one FS stat per manifest entry, no data scan, no
      * footer read) yield a target file count
      * `ceil(bytes / targetFileBytes)` — the same formula as
      * [[WriteOps.compact]] — and the slice is range-exchanged on
      * `(pt_year, salt)` where `salt = pmod(hash(row), filesFor(pt))`.
      * One task therefore rewrites ~`targetFileBytes` of one partition,
      * and a fat fragmented partition (tens of GB–TB at 100 TB scale)
      * is rewritten by MANY parallel tasks into many ~1 GB-class files
      * — the shape Delta's OPTIMIZE targets — instead of funnelling
      * through a single task into a single file. `commit`'s `p%05d`
      * naming absorbs multi-file partitions unchanged.
      *
      * The properties that make this safe under time travel, all
      * spec/oracle-pinned (OptimizeSnapshotSpec + the
      * write_optimize_snapshot gate):
      *  - reads of the old version still resolve its original files
      *    (manifest immutability) until vacuum reclaims them;
      *  - the change feed ACROSS the optimize commit is EMPTY — the
      *    rewritten rows are content-identical, and tableChanges'
      *    changes-only contract already ignores carried content (the
      *    same reason a rewritten-but-unchanged row in any commit is
      *    not a change);
      *  - fragmentation detection is manifest metadata only (file
      *    counts per partition from the file NAMES), no data scan —
      *    at 100 TB the nightly optimize plans itself from the
      *    manifest and rewrites only what fragmented.
      *
      * `zorderBy` (the `OPTIMIZE ... ZORDER BY` composition): when
      * set, the rewrite clusters rows by the Morton interleave of two
      * integer columns (or plain range order for one column) instead
      * of a random salt — the exchange is still byte-targeted (same
      * `filesFor` counts), but output files carry near-disjoint
      * cluster-key ranges, so future two-column-filtered scans of the
      * optimized partitions skip files (OptimizeSnapshotSpec asserts
      * disjoint per-file ranges). Data-unchanged contract is
      * identical — the cluster key is a projection helper, dropped
      * before commit.
      *
      * `onlyYears` (Delta's `OPTIMIZE ... WHERE`): restrict the
      * rewrite to the named partitions — a targeted nightly pass over
      * yesterday's hot partition instead of the whole table. */
    def optimize(s: SparkSession, root: String, newV: Int,
        maxFilesPerPartition: Int = 1,
        targetFileBytes: Long = 128L << 20,
        zorderBy: Seq[String] = Nil,
        purgeTombstoned: Boolean = true,
        onlyYears: Option[Seq[Int]] = None): Seq[Int] = {
      require(targetFileBytes > 0, "targetFileBytes must be positive")
      require(zorderBy.length <= 2,
        "zorderBy supports one (range) or two (Morton) columns")
      val parent = top(root, newV - 1)
      val byYear: Map[Int, Seq[FileEntry]] = {
        val ptrs = parent.pointers.toSeq.sortBy(_._1)
        ptrs.map(_._1).zip(readPartManifests(ptrs.map(_._2))).toMap
      }
      // rewrite targets = fragmented partitions ∪ (by default) the
      // partitions holding pending deletion-vector tombstones: OPTIMIZE
      // is the natural purge vehicle — the rewrite reads DV-applied
      // rows, so tombstones turn physical and their years drop from the
      // carried entries at zero extra cost. The data-UNCHANGED contract holds
      // unchanged: visible rows are identical before/after (the DV was
      // already applied at read), so the change feed across the
      // optimize commit stays empty.
      val tombstoned =
        if (purgeTombstoned) parent.dv.map(_.years).getOrElse(Seq.empty)
        else Seq.empty
      val fragmented0 = (byYear.collect {
        case (y, fs) if fs.size > maxFilesPerPartition => y
      }.toSeq ++ tombstoned).distinct.sorted
      val fragmented =
        onlyYears.fold(fragmented0)(ys => fragmented0.filter(ys.contains))
      if (fragmented.nonEmpty) {
        // per-partition target file counts from MANIFEST byte metadata
        // alone (sizes were recorded at commit): planning the rewrite
        // makes zero filesystem calls — at millions of live files the
        // nightly optimize never stats a file.
        // DATA-PROPORTIONAL PARALLELISM (r15): the rewrite's task
        // count equals its output file count (one range-exchange
        // partition per file), so a byte target far above
        // bytes/parallelism would idle most of the cluster — the r14
        // sf10 probe measured 7 tasks carrying 10× rows each. The
        // EFFECTIVE target therefore shrinks toward
        // totalBytes/defaultParallelism, floored at the row-group
        // bound (files stay row-group-aligned; splittable reads make
        // the extra files free) and never above the caller's target.
        val effTarget = {
          val floor = math.min(
            rowGroupBytes(s.sparkContext.hadoopConfiguration),
            targetFileBytes)
          val totalBytes =
            fragmented.map(y => byYear(y).map(_.bytes).sum).sum
          math.max(floor, math.min(targetFileBytes, math.max(1L,
            totalBytes /
              math.max(1, s.sparkContext.defaultParallelism))))
        }
        val filesFor: Map[Int, Int] = fragmented.map { y =>
          val bytes = byYear(y).map(_.bytes).sum
          y -> math.max(1,
            math.ceil(bytes.toDouble / effTarget).toInt)
        }.toMap
        val totalFiles = math.max(filesFor.values.sum, 1)
        // metadata-pruned read: only the fragmented partitions' files
        // enter the rewrite scan
        val slice0 = readPartitions(s, root, newV - 1, fragmented)
        val slice =
          if (zorderBy.isEmpty) {
            // salt ∈ [0, filesFor(pt)) from a row hash; the range
            // exchange on (pt_year, salt) gives each (partition, salt)
            // group its own task, so file sizes land near
            // targetFileBytes and the rewrite parallelism scales with
            // fragmented bytes, not partition count
            slice0.withColumn("__salt",
                pmod(hash(slice0.columns.map(col): _*),
                  element_at(typedLit(filesFor),
                    col("pt_year").cast("int"))))
              .repartitionByRange(totalFiles,
                col("pt_year"), col("__salt"))
              .drop("__salt")
          } else {
            val zv =
              if (zorderBy.length == 2)
                expr(zvalExpr(zorderBy(0), zorderBy(1))).cast("bigint")
              else col(zorderBy.head)
            slice0.withColumn("__zv", zv)
              .repartitionByRange(totalFiles,
                col("pt_year"), col("__zv"))
              .sortWithinPartitions(col("pt_year"), col("__zv"))
              .drop("__zv")
          }
        commit(s, root, newV, slice, fragmented, distribute = false)
      }
      fragmented
    }

    /** True iff `p` lives under table root `root` (path-segment prefix,
      * both sides HPath-normalized). The vacuum containment test: a
      * SHALLOW CLONE's manifests carry absolute pointers into the
      * SOURCE table's root, and reclaiming those from the clone side
      * would destroy data the source head still references — Delta
      * scopes vacuum to files under the table root for exactly this
      * reason, and so does this. */
    private[graft] def underRoot(root: String, p: String): Boolean = {
      val r = new HPath(root).toString
      val s = new HPath(p).toString
      s == r || s.startsWith(r + "/")
    }

    /** Reclaim versions older than the newest `retain`. ROOT-SCOPED by
      * contract: only m-files, data files, and tombstone dirs physically
      * under `root` are ever deleted — cross-root pointers (a shallow
      * clone referencing its source's files) are skipped, never
      * reclaimed by the clone; the source's own vacuum owns them (and,
      * symmetrically, can still break a clone that outlives the
      * source's retention — the documented Delta-clone hazard).
      * `dryRun` (Delta's VACUUM ... DRY RUN): compute and COUNT every
      * path this retention would reclaim — data files, m-files, top
      * manifests, tombstone dirs — deleting nothing. Returns the count
      * either way (what was, or would be, reclaimed). */
    def vacuum(root: String, retain: Int,
        dryRun: Boolean = false): Int = {
      var reclaimed = 0
      val vs = versions(root)
      val (expired, kept) = vs.splitAt(math.max(vs.length - retain, 0))
      // every version's top manifest is read once, and every retained
      // partition manifest once however many versions share it
      val tops = vs.map(v => v -> top(root, v)).toMap
      // carry-over shares m-file pointers, so "referenced by a retained
      // version" is a POINTER-set membership test; the file-level keep
      // set is belt-and-suspenders for the same reason
      val keptPtrs = kept.flatMap(tops(_).pointers.values).toSet
      val keepFiles =
        readPartManifests(keptPtrs.toSeq).flatten.map(_.path).toSet
      // tombstone dirs reference-count exactly like m-files: carried
      // deletion vectors list the same dirs, so a dir dies only when
      // no retained version still lists it. The reclaim set is
      // LIST-based (everything under _dv minus the retained versions'
      // dirs), so a commit-race loser's dir (token-uniquified) is
      // garbage-collected here even though no manifest ever
      // referenced it.
      val dvDir = dvRoot(root)
      val dvFs = fsFor(dvDir)
      // listStatus returns FULLY-QUALIFIED paths (file:/...); manifest
      // lines record the caller's root form — qualify both sides
      def qual(p: String): String =
        dvFs.makeQualified(new HPath(p)).toString
      def dirs(vs: Seq[Int]): Set[String] =
        vs.flatMap(tops(_).dv.toSeq.flatMap(_.entries))
          .map(e => qual(e.dir)).toSet
      val keptDvs = dirs(kept)
      val refDvs = dirs(vs)
      if (dvFs.exists(dvDir))
        dvFs.listStatus(dvDir).toSeq.foreach { st =>
          val p = st.getPath.toString
          val dead =
            if (keptDvs.contains(p)) false
            else if (refDvs.contains(p)) true // expired-referenced
            else
              // an ORPHAN (referenced by NO version) is either a race
              // loser's leftover or an IN-FLIGHT delete-commit whose
              // manifest hasn't published yet — reclaim only past an
              // age horizon (Delta's vacuum-horizon discipline; no
              // commit stays in flight for an hour)
              System.currentTimeMillis() - st.getModificationTime >
                dvOrphanHorizonMs
          if (dead) { reclaimed += 1; if (!dryRun) deleteTree(p) }
        }
      // the DEAD pointer set is computed across ALL expired versions
      // first (carry-over shares pointers, so two expired versions can
      // reference the same m-file — each dies exactly once). Cross-root
      // pointers (clone → source) are NOT ours to reclaim: skip them.
      val deadPtrs =
        (expired.flatMap(tops(_).pointers.values).toSet -- keptPtrs)
          .filter(underRoot(root, _))
      deadPtrs.foreach { m =>
        readPartManifest(m).map(_.path).filterNot(keepFiles.contains)
          .filter(underRoot(root, _))
          .foreach { f =>
            reclaimed += 1
            if (!dryRun) {
              val p = new HPath(f)
              fsFor(p).delete(p, false)
            }
          }
        reclaimed += 1
        if (!dryRun) {
          val mp = new HPath(m)
          fsFor(mp).delete(mp, false)
        }
      }
      expired.foreach { v =>
        reclaimed += 1
        if (!dryRun) {
          val top = manifest(root, v)
          fsFor(top).delete(top, false)
        }
      }
      reclaimed
    }

    /** Reclaim ORPHANS — data files and m-files referenced by NO
      * version and NO staged branch. `vacuum()` is metadata-only (it
      * never lists the data dir) so it cannot see a commit-race
      * loser's already-staged leftovers; this is the listing-based
      * companion Delta's VACUUM runs: ONE flat listing of `data/` and
      * `_manifests/`, a set-difference against every retained
      * version's and branch's references, AGE-GATED so an in-flight
      * commit's just-staged files always survive (no commit stays in
      * flight for an hour). Returns the reclaimed paths. At 100 TB
      * this is the nightly maintenance pass paired with OPTIMIZE —
      * O(live files) metadata, zero data reads, and safe to run
      * concurrently with readers (it deletes only what no manifest
      * has ever referenced). */
    def vacuumOrphans(root: String,
        horizonMs: Long = 60L * 60 * 1000): Seq[String] = {
      val now = System.currentTimeMillis()
      val vs = versions(root)
      val md = mdir(root)
      val mfs = fsFor(md)
      val branches: Seq[String] =
        if (!mfs.exists(md)) Seq.empty
        else mfs.listStatus(md).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith("branch_") && n.endsWith(".txt"))
          .map(_.stripPrefix("branch_").stripSuffix(".txt"))
      val branchPtrs: Seq[String] =
        branches.flatMap(b => branchState(root, b)._3.pointers.values)
      val refM: Set[String] =
        (vs.flatMap(pointers(root, _).values) ++ branchPtrs).toSet
      val refFiles: Set[String] =
        (vs.flatMap(files(root, _)) ++
          branchPtrs.flatMap(readPartManifest(_).map(_.path))).toSet
      val reclaimed = scala.collection.mutable.ArrayBuffer[String]()
      def sweep(dir: HPath, referenced: Set[String],
          eligible: String => Boolean): Unit = {
        val fs = fsFor(dir)
        if (!fs.exists(dir)) return
        val refQ = referenced.map(p =>
          fs.makeQualified(new HPath(p)).toString)
        fs.listStatus(dir).foreach { st =>
          if (st.isFile && eligible(st.getPath.getName) &&
              !refQ.contains(st.getPath.toString) &&
              now - st.getModificationTime > horizonMs) {
            fs.delete(st.getPath, false)
            reclaimed += st.getPath.toString
          }
        }
      }
      sweep(new HPath(root, "data"), refFiles, _ => true)
      // m-file sweep: top manifests (v<N>.txt) and branch refs are the
      // roots of reachability — never candidates; everything else in
      // _manifests is an m-file that must be referenced to live
      sweep(md, refM, n => !n.matches("v\\d+\\.txt") &&
        !(n.startsWith("branch_") && n.endsWith(".txt")) &&
        !n.startsWith("."))
      reclaimed.toSeq
    }

    def deleteTree(root: String): Unit = {
      val p = new HPath(root)
      val fs = fsFor(p)
      if (fs.exists(p)) fs.delete(p, true)
    }

    /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): a new
      * table whose v0 is the source HEAD's manifest verbatim — schema,
      * pending deletion vector, and partition POINTERS copied, zero
      * data moved or duplicated (manifests store absolute paths, so
      * the clone resolves the source's files in place). The clone then
      * evolves independently: its commits write fresh files under its
      * OWN root and carry source pointers only for partitions it never
      * rewrites. Cost: one manifest write, however large the table.
      * Txn lines do NOT transfer (a writer app's batch history belongs
      * to the source). Documented hazard, same as Delta's: vacuuming
      * the SOURCE can reclaim files a clone still references — gate
      * source vacuums on clone lifetimes (or rewrite the clone fully).
      */
    def shallowClone(srcRoot: String, dstRoot: String): Unit = {
      val head = versions(srcRoot).max
      require(versions(dstRoot).isEmpty,
        s"clone target $dstRoot already holds a committed table")
      fsFor(mdir(dstRoot)).mkdirs(mdir(dstRoot))
      // the source head's #ts carries: the clone's first own commit
      // stamps past it, so the ts chain stays ordered across the clone
      publish(dstRoot, top(srcRoot, head).copy(version = 0, txn = None))
    }

    /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION AS OF v`): the
      * table's next version's CONTENT is an older version's,
      * republished as version `newV` — pointers, schema, and pending
      * deletion vector copied from the restored manifest verbatim; ONE
      * metadata write, zero data movement (the old version's files
      * simply become referenced again). History is PRESERVED, not
      * rewritten: the bad intermediate versions stay readable within
      * retention, the restore is itself a commit (time travel past it
      * works), and the change feed across it shows exactly the
      * partitions whose pointers moved back ([[changedYears]] — carry-
      * over shares pointers, so unchanged partitions diff empty).
      * Fails loudly when the target version was vacuumed — a restore
      * can only resurrect files that still exist, the same retention
      * contract time travel has. At 100 TB: un-doing a bad load is
      * O(|partitions|) metadata, never a data rewrite. Txn lines do
      * not copy (the restored content is not the writer app's batch). */
    def restore(root: String, newV: Int, toVersion: Int): Unit = {
      require(toVersion < newV,
        s"restore target v$toVersion must precede the new version $newV")
      val parent = preflight(root, newV)
      // top fails loudly when toVersion was vacuumed
      publish(root, top(root, toVersion).next(newV, drawTs(parent)))
    }

    /** Partitions that changed between two versions, recovered from the
      * TOP-MANIFEST POINTER DIFF alone — O(|partitions|) work with zero
      * m-file reads, zero data scans, zero footer reads. This is what
      * makes a change feed affordable at 100 TB: the diff prunes the
      * table to the touched partitions BEFORE any row (or even any
      * per-partition manifest) is opened. */
    def changedYears(root: String, vFrom: Int, vTo: Int): Seq[Int] = {
      val a = pointers(root, vFrom)
      val b = pointers(root, vTo)
      // deletion vectors change rows without changing pointers: a year
      // whose covering tombstone entries differ between the two sides
      // is where rows may have (dis)appeared
      def cover(v: Int): Set[(Int, String, Long)] =
        dvOf(root, v).toSeq.flatMap(_.entries)
          .flatMap(e => e.years.map((_, e.dir, e.below))).toSet
      val (ca, cb) = (cover(vFrom), cover(vTo))
      val dvYears = ((ca diff cb) ++ (cb diff ca)).map(_._1)
      // carry-over copies pointers verbatim and fresh m-files are
      // version-namespaced, so a partition changed iff its pointer did
      ((a.keySet ++ b.keySet).filter(y => a.get(y) != b.get(y)) ++
        dvYears).toSeq.sorted
    }

    // ------------------------------------------------------------------
    // WRITE-AUDIT-PUBLISH branches (the Iceberg WAP shape): a staged
    // commit is real data files + token-namespaced partition m-files +
    // ONE branch ref that never enters the version history until
    // published. Readers of main cannot see staged data (no version's
    // top manifest points at it); the audit reads the branch; publish is
    // ONE atomic top-manifest rename — metadata-only, zero data
    // movement — and abandon deletes exactly the branch's own fresh
    // m-files and their data files (vacuum never touches them either
    // way: it reclaims only metadata referenced by expired VERSIONS).
    // Branch m-files slot into version history verbatim on publish —
    // carry-over, optimize's fragmentation scan, and the pointer-diff
    // changedYears treat them like any commit's m-files.
    // Concurrency: the branch ref records its parent head; publish
    // requires head == parent (stale carried pointers otherwise —
    // restage to rebase) and takes the same rename-no-replace version
    // race as commit.
    // ------------------------------------------------------------------

    private def branchManifest(root: String, name: String): HPath =
      new HPath(new HPath(root, "_manifests"), s"branch_$name.txt")

    /** Stage `slice` (ALL rows of the touched partitions) on branch
      * `name`, built on the current head. Data lands now; visibility
      * waits for [[publishBranch]].
      *
      * Branch data files and m-files embed a PER-STAGING token
      * (`b<name>-<token>_y<year>_…`): after a publish, the published
      * files stay referenced by version manifests under that token's
      * names, so re-staging the SAME branch name writes fresh names and
      * can never collide with committed files. The branch ref is the next version's top manifest (its
      * `#ts` is the `born` of the staged files) plus `#parent=<head>`
      * and `#fresh=<years>`, the years whose m-files this staging
      * wrote: [[abandonBranch]] deletes exactly those — never a
      * name-pattern guess that could catch a previous staging's
      * published files. */
    def stageCommit(s: SparkSession, root: String, name: String,
        slice: DataFrame, touched: Seq[Int]): Unit = {
      require(name.matches("[a-z0-9-]+"),
        s"branch name '$name' must be [a-z0-9-]+ (it is part of the " +
        "branch's data-file and manifest names)")
      val bm = branchManifest(root, name)
      val bfs = fsFor(bm)
      require(!bfs.exists(bm),
        s"branch $name is already staged — publish or abandon it first")
      val vs = versions(root)
      require(vs.nonEmpty, "stageCommit needs a committed base version")
      val parent = top(root, vs.max)
      // a staged rewrite of a tombstoned partition would either purge
      // (needs the deletion-vector update commit() runs) or resurrect deleted
      // rows on publish — refuse loudly; rewrite through commit() or
      // stage elsewhere. The parent's pending deletion vector rides the
      // branch verbatim (disjoint from the staged partitions), so a
      // publish cannot resurrect deleted rows either.
      parent.dv.foreach { dv =>
        val hit = dv.years.intersect(touched)
        require(hit.isEmpty,
          s"partitions ${hit.mkString(",")} hold pending deletion-vector " +
          "tombstones; purge them with a rewrite commit before staging " +
          "a branch there")
      }
      val tok = token()
      val staged = writeDataFiles(s, root, s"b$name-$tok", slice, touched,
        parent)
      val ts = drawTs(parent)
      // fresh m-files are TOKEN-namespaced like the data files, so a
      // later staging of the same branch name can never collide with
      // m-files a previous staging already published into history
      val branch = parent.next(parent.version + 1, ts).copy(
        schema = Some(evolve(parent, slice.schema)),
        pointers = mergePointers(root, parent.pointers, touched.toSet,
          addsOf(staged, ts), y => s"m_b$name-${tok}_y$y.txt"))
      val fresh = touched.filter(branch.pointers.contains).sorted
      writeAtomic(bfs, new HPath(mdir(root), s".branch_$name.tmp"), bm,
        Seq(s"#parent=${parent.version}", s"#fresh=${fresh.mkString(",")}") ++
          Top.render(branch))
    }

    /** (parent version, years with fresh m-files, the staged next
      * version's top manifest). */
    private def branchState(root: String,
        name: String): (Int, Set[Int], Top) = {
      val bm = branchManifest(root, name)
      val fs = fsFor(bm)
      require(fs.exists(bm), s"branch $name is not staged")
      val lines = readAllLines(fs, bm).filter(_.nonEmpty)
      val parent = Top.header(lines, "#parent=").get.toInt
      (parent,
        Top.header(lines, "#fresh=").get.split(',').filter(_.nonEmpty)
          .map(_.toInt).toSet,
        Top.parse(parent + 1, lines))
    }

    /** The branch's table state — what the audit step reads, through
      * the connector scan like any version (rename aliases in the
      * carried schema resolve, the parent's tombstones apply). */
    def readBranch(s: SparkSession, root: String,
        name: String): DataFrame =
      graft.sources.SnapshotFrame(s, root, branchState(root, name)._3)

    /** Publish the audited branch as the next version: ONE atomic
      * top-manifest rename, zero data movement (the branch's m-files
      * are already in place and simply become referenced). The version
      * records the ts its files were born with at staging. Returns the
      * new version. */
    def publishBranch(root: String, name: String): Int = {
      val (parent, _, branch) = branchState(root, name)
      val head = versions(root).max
      require(head == parent,
        s"main advanced to v$head since branch $name staged on " +
        s"v$parent — its carried file list is stale; restage to rebase")
      publish(root, branch)
      val bm = branchManifest(root, name)
      fsFor(bm).delete(bm, false)
      branch.version
    }

    /** Drop a failed-audit branch: delete exactly what the branch
      * manifest RECORDED as fresh — its token-namespaced m-files and
      * the data files they list (carried pointers belong to main, and
      * so does anything a previous staging of this name already
      * published) — then the ref. Main never saw anything. */
    def abandonBranch(root: String, name: String): Unit = {
      val (_, fresh, branch) = branchState(root, name)
      fresh.flatMap(branch.pointers.get).foreach { m =>
        readPartManifest(m).foreach { e =>
          val p = new HPath(e.path)
          fsFor(p).delete(p, false)
        }
        val mp = new HPath(m)
        fsFor(mp).delete(mp, false)
      }
      val bm = branchManifest(root, name)
      fsFor(bm).delete(bm, false)
    }
  }

  /** CHANGE DATA FEED between two snapshot versions — the Delta
    * `table_changes(...)` analog over [[SnapshotTable]]: row-level
    * insert / delete / update_preimage / update_postimage records
    * derived by diffing the two versions, emitting ONLY rows whose
    * content actually changed (a rewritten partition's untouched rows
    * are not changes).
    *
    * Scale shape: [[SnapshotTable.changedYears]] prunes both reads to
    * the touched partitions from manifest metadata alone, so the
    * full-outer key join shuffles touched-partition rows only — cost is
    * proportional to the commit being explained, never table size. */
  private[graft] def tableChanges(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame = {
    val years = SnapshotTable.changedYears(root, vFrom, vTo)
    // metadata-pruned reads: only the touched partitions' m-files
    // resolve, so untouched partitions' data files never open
    def slice(v: Int, p: String) = SnapshotTable
      .readPartitions(s, root, v, years)
      .select(col("o_orderkey").as(s"${p}_key"),
        col("o_custkey").as(s"${p}_cust"),
        col("o_totalprice").as(s"${p}_price"))
    val j = slice(vFrom, "pre").join(slice(vTo, "post"),
      col("pre_key") === col("post_key"), "full_outer")
    val ins = j.filter(col("pre_key").isNull)
      .select(col("post_key").as("o_orderkey"),
        col("post_price").as("price"), lit("insert").as("change_type"))
    val del = j.filter(col("post_key").isNull)
      .select(col("pre_key").as("o_orderkey"),
        col("pre_price").as("price"), lit("delete").as("change_type"))
    val upd = j.filter(col("pre_key").isNotNull && col("post_key").isNotNull &&
      (col("pre_price") =!= col("post_price") ||
        col("pre_cust") =!= col("post_cust")))
    val updPre = upd.select(col("pre_key").as("o_orderkey"),
      col("pre_price").as("price"), lit("update_preimage").as("change_type"))
    val updPost = upd.select(col("post_key").as("o_orderkey"),
      col("post_price").as("price"), lit("update_postimage").as("change_type"))
    ins.unionByName(del).unionByName(updPre).unionByName(updPost)
  }

  /** Materialized-aggregate base: per-customer order stats over the
    * years-before-1997 history, bucket-partitioned on the key so a later
    * incremental merge can address only the buckets a batch touches.
    * Partials are ALGEBRAIC (count + exact decimal sum — avg is derived
    * at read time), which is what makes cross-batch combining exact. */
  private[graft] def incrAggLoad(s: SparkSession, d: String,
      base: String): Unit =
    orders(s, d).filter(year(col("o_orderdate")) < 1997)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).as("total_dec"))
      .withColumn("bucket", pmod(col("o_custkey"), lit(16)).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(base)

  /** Incremental maintenance of the materialized aggregate — the
    * INCREMENTAL VIEW MAINTENANCE pattern: a new fact batch is reduced
    * to its own partials (batch-sized work), the buckets it touches are
    * read back (touched-partition reads, never the whole table), partials
    * combine by summation, and only touched buckets are rewritten. At
    * 100 TB the nightly cost is O(batch + touched buckets); the naive
    * alternative — recompute the aggregate over all history — is a full
    * corpus scan every run. Correctness rests on the partials being
    * commutative monoids (counts and exact decimal sums), proven by the
    * gate's oracle recomputing from scratch. */
  private[graft] def incrAggMerge(s: SparkSession, base: String,
      stage: String, batchFacts: DataFrame): Unit = {
    val batch = batchFacts
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).as("total_dec"))
      .withColumn("bucket", pmod(col("o_custkey"), lit(16)).cast("int"))
    val touched = batch.select("bucket").distinct()
    val cur = s.read.parquet(base)
      .withColumn("bucket", col("bucket").cast("int"))
      .join(broadcast(touched), Seq("bucket"), "left_semi")
    val merged = cur.unionByName(batch)
      .groupBy("o_custkey", "bucket")
      .agg(sum("n_orders").as("n_orders"),
        sum("total_dec").cast(dec).as("total_dec"))
    merged.write.mode(SaveMode.Overwrite).parquet(stage)
    s.read.parquet(stage)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(base)
  }

  // per-(JVM, sfDir) materialized-agg table maintained by the streaming
  // twin: built once, merged by the stream's foreachBatch, reused by
  // re-invocations (the checkpoint replays nothing — the production
  // restart path)
  private val streamAggState =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** Streaming twin of write_incremental_agg — gate
    * `streaming_ingest_agg`: the 1997 change batch ARRIVES as
    * micro-batches, and each one merges into the materialized aggregate
    * through the same [[incrAggMerge]] the batch gate uses
    * (foreachBatch). Unlike the pointwise ingest twins (neardup, score),
    * this result depends on EVERY batch — it is batch-split-invariant
    * because the partials form a commutative monoid: base ⊕ b0 ⊕ b1 ⊕ b2
    * = base ⊕ (b0 ∪ b1 ∪ b2), whatever the split. That algebra is what
    * lets the batch gate's DuckDB oracle verify the stream UNCHANGED,
    * and it is the load-bearing property of every streaming aggregation
    * at 100 TB: per-arrival cost O(batch + touched buckets), no history
    * rescan, restart = offset-log recovery + a no-new-data pass. */
  private[graft] def streamingIncrAgg(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.DocIngest
    val (base, _, ckpt) = streamAggState.getOrElseUpdate(d, {
      // fresh-per-JVM roots (a stale checkpoint over a rebuilt base
      // would silently skip the replay), resolved through scratch() so
      // SPARK_GRAFT_SCRATCH relocates them onto any Hadoop filesystem
      val run = java.util.UUID.randomUUID().toString.take(8)
      val b = scratch(s"stream_incragg_tbl_$run")
      val st = scratch(s"stream_incragg_stage_$run")
      val ck = scratch(s"stream_incragg_ckpt_$run")
      incrAggLoad(s, d, b)
      (b, st, ck)
    })
    val stage = streamAggState(d)._2
    val arrivals = DocIngest.stagedDirOf(s"incragg|$d", "o_orderkey",
      orders(s, d).filter(year(col("o_orderdate")) === 1997)
        .select("o_orderkey", "o_custkey", "o_totalprice"))
    val src = DocIngest.sourceOver(s, arrivals,
      s.read.parquet(arrivals + "/b0").schema)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        incrAggMerge(s, base, stage, batch)
      }
      .start()
    DocIngest.await(q)
    s.read.parquet(base)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("total"),
        (col("total_dec").cast("double") /
          col("n_orders").cast("double")).as("avg_price"))
  }

  /** Build-once snapshot table for the data-skipping gate: orders,
    * range-clustered by `o_custkey` ACROSS the commit (8 range tasks ×
    * partitionBy(year) → per year, ~8 files each holding a narrow,
    * near-disjoint custkey band), so the footer-derived min/max recorded
    * in the manifest actually separates files. This is the layout
    * discipline (range/z-order clustering) that makes min/max skipping
    * effective at 100 TB — without it every file's range spans the
    * domain and nothing prunes. */
  private def skippingTable(s: SparkSession, d: String): String =
    skipSetup.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val root = scratch(s"skip_tbl_$run")
      SnapshotTable.deleteTree(root)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0,
        base.repartitionByRange(8, col("o_custkey")), years,
        distribute = false)
      root
    })

  /** Build-once snapshot table for the z-order composition gate: a
    * fragmented lineitem commit (v0), then OPTIMIZE ... ZORDER BY
    * (l_partkey, l_suppkey) publishes v1 — the maintenance pass that
    * turns a write-ordered mess into a two-dimensionally clustered
    * layout whose file stats (recorded by the same commit) make
    * conjunctive skipping multiplicative. */
  private def zorderSnapTable(s: SparkSession, d: String): String =
    zscanSetup.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val root = scratch(s"zscan_tbl_$run")
      SnapshotTable.deleteTree(root)
      val base = lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), year(col("l_shipdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base.repartition(12), years,
        distribute = false)
      SnapshotTable.optimize(s, root, 1, maxFilesPerPartition = 1,
        targetFileBytes = 32L << 10,
        zorderBy = Seq("l_partkey", "l_suppkey"))
      root
    })

  /** One micro-batch → one snapshot version: keep-latest merge of the
    * batch into the head's touched partitions, committed through
    * [[SnapshotTable.commitIfNew]] with the batch's id as the txn — the
    * exactly-once snapshot-table streaming sink (Delta's idempotent
    * `txn` writer). A replayed batch (at-least-once foreachBatch) is
    * recognized from the recorded txn and skipped BEFORE any file
    * lands; per-arrival cost is O(batch + touched partitions). */
  private[graft] def snapshotSinkMerge(s: SparkSession, root: String,
      batchId: Long, batch: DataFrame,
      app: String = "ingest"): Unit = {
    import org.apache.spark.sql.expressions.Window
    val touched = batch.select("pt_year").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) {
      val head = SnapshotTable.versions(root).max
      val merged = batch.withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, root, head)
          .filter(col("pt_year").isin(touched.map(Integer.valueOf): _*))
          .withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.commitIfNew(s, root, app, batchId, merged,
        touched)
    }
  }

  /** Streaming sink INTO the snapshot table — gate
    * `streaming_ingest_snapshot`: the 1997 upsert batch ARRIVES as
    * micro-batches and each lands as its own snapshot VERSION through
    * [[snapshotSinkMerge]] (foreachBatch + durable checkpoint + the
    * manifest-recorded txn id). Batch-split invariance comes from key
    * disjointness (every change-batch key appears once), so the batch
    * oracle (write_time_travel's v1 shape) verifies the stream
    * unchanged. Restart safety is TWO independent layers: the
    * checkpoint's offset log (a drained file never re-delivers) and the
    * txn guard (an at-least-once redelivery is recognized in metadata
    * and skipped) — so the table's history stays linear and each batch
    * lands EXACTLY once, the contract a lakehouse streaming writer
    * must give at 100 TB. */
  private[graft] def streamingSnapshotSink(s: SparkSession,
      d: String): DataFrame = {
    import graft.streaming.DocIngest
    val (root, ckpt) = snapSinkState.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val r = scratch(s"stream_snap_tbl_$run")
      val ck = scratch(s"stream_snap_ckpt_$run")
      SnapshotTable.deleteTree(r)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, r, 0, base, years)
      (r, ck)
    })
    val arrivals = DocIngest.stagedDirOf(s"snapsink|$d", "o_orderkey",
      upsertBatch(s, d))
    val src = DocIngest.sourceOver(s, arrivals,
      s.read.parquet(arrivals + "/b0").schema)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        snapshotSinkMerge(s, root, id, batch)
      }
      .start()
    DocIngest.await(q)
    SnapshotTable.read(s, root, SnapshotTable.versions(root).max)
      .groupBy("pt_year")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        decSum("o_totalprice").as("total"))
  }

  // per-(JVM, sfDir) state for the snapshot SOURCE gate:
  // sfDir -> (table root, ckpt dir, output dir)
  private val snapSrcState =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** Streaming READ of the snapshot table — gate
    * `streaming_source_snapshot`, the consumer half of the lakehouse
    * streaming story (streaming_ingest_snapshot is the producer): the
    * graft-snapshot DSv2 connector (graft.sources.SnapshotSourceProvider)
    * serves each committed VERSION's manifest-diff fresh files as
    * streaming progress. The fixture history is append-shaped — v0
    * loads years ≤ 1995, then one fresh-partition commit per later
    * year — so the version diffs are exactly the appends, and draining
    * the stream reconstructs the whole table; the oracle verifies it
    * against the plain orders aggregate. The drain checkpoint makes
    * re-invocation a restart: offsets resume past served versions,
    * nothing re-emits, and the landed output is re-read as-is. */
  /** `maxVersions`: when set, the stream opts in to the source's
    * ADMISSION CONTROL (`maxVersionsPerTrigger`) — the rate-limit gate's
    * twin of this gate; SnapshotSourceSpec asserts the bounded-batch
    * count, the oracle proves pacing never changes the landed table. */
  private[graft] def streamingSnapshotSource(s: SparkSession,
      d: String, maxVersions: Option[Int] = None): DataFrame = {
    val variant = maxVersions.fold("")(m => s"#rate$m")
    val (root, ckpt, out) = snapSrcState.getOrElseUpdate(d + variant, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val r = scratch(s"snapsrc_tbl_$run")
      SnapshotTable.deleteTree(r)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      val (old, recent) = years.partition(_ <= 1995)
      SnapshotTable.commit(s, r, 0,
        base.filter(col("pt_year") <= 1995), old)
      recent.zipWithIndex.foreach { case (y, i) =>
        SnapshotTable.commit(s, r, i + 1,
          base.filter(col("pt_year") === y), Seq(y))
      }
      (r, scratch(s"snapsrc_ckpt_$run"), scratch(s"snapsrc_out_$run"))
    })
    val reader = s.readStream.format("graft-snapshot")
      .option("root", root)
    val src = maxVersions
      .fold(reader)(m => reader.option("maxVersionsPerTrigger", m))
      .load()
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        // per-batch overwrite dir: an at-least-once replay rewrites
        // identical content — idempotent landing
        b.write.mode(SaveMode.Overwrite).parquet(s"$out/b$id")
      }
      .start()
    graft.streaming.DocIngest.await(q)
    s.read.option("recursiveFileLookup", "true")
      .schema(src.schema).parquet(out)
      .groupBy("pt_year")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        decSum("o_totalprice").as("total"))
  }

  // per-(JVM, sfDir) state for the bronze→silver pipeline gate:
  // sfDir -> (bronze root, silver root, ckpt dir); graft-visible so
  // SnapshotSinkSpec can assert silver's version/txn history
  private[graft] val snapPipeState =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** The MEDALLION HOP — gate `streaming_pipeline_snapshot`: ONE
    * structured stream reads a snapshot table through the graft-snapshot
    * DSv2 SOURCE (bronze: append-shaped version history), transforms
    * each micro-batch (a derived price_band column — the
    * cleanse/enrich step of a bronze→silver pipeline), and lands it in
    * a SECOND snapshot table through the txn-guarded SINK
    * ([[snapshotSinkMerge]], app "silver"). Exactly-once end-to-end is
    * the COMPOSITION of the two halves' guarantees: the source resumes
    * from its checkpointed version offset (a drained bronze version
    * never re-serves), and the sink recognizes a replayed batchId in
    * silver's manifest before any file lands — so a crash anywhere in
    * the hop re-delivers at most once into a table that de-duplicates
    * deliveries in metadata. Silver starts as an EMPTY v0 (recorded
    * schema, zero files) and is built entirely by the stream; at
    * 100 TB each hop trigger moves O(new bronze commits) data and
    * O(manifest) metadata, never table-sized work on either end.
    *
    * r14: the gate also exercises the SMALL-FILE MAINTENANCE cadence
    * a long-running hop needs — after the first drain, silver is
    * OPTIMIZE-compacted (a data-unchanged commit), then a late bronze
    * slice (1998) lands and the SAME checkpointed stream drains it
    * into the compacted table: sink → OPTIMIZE → stream-continues,
    * with the final head equal to the full enrichment either way
    * (which is exactly what the oracle checks). */
  private[graft] def streamingSnapshotPipeline(s: SparkSession,
      d: String): DataFrame = {
    val (bronze, silver, ckpt) = snapPipeState.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val b = scratch(s"pipe_bronze_$run")
      val sv = scratch(s"pipe_silver_$run")
      SnapshotTable.deleteTree(b); SnapshotTable.deleteTree(sv)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      val lateYear = years.max // held back until after the compaction
      val (old, recent) =
        years.filterNot(_ == lateYear).partition(_ <= 1995)
      SnapshotTable.commit(s, b, 0,
        base.filter(col("pt_year") <= 1995), old)
      recent.zipWithIndex.foreach { case (y, i) =>
        SnapshotTable.commit(s, b, i + 1,
          base.filter(col("pt_year") === y), Seq(y))
      }
      // silver v0: the recorded target schema, zero files — the stream
      // builds the table
      val silverSchema = base
        .withColumn("price_band",
          floor(col("o_totalprice") / 50000).cast("int"))
        .filter(lit(false))
      SnapshotTable.commit(s, sv, 0, silverSchema, Seq.empty)
      val ck = scratch(s"pipe_ckpt_$run")
      def drain(): Unit = {
        val src = s.readStream.format("graft-snapshot")
          .option("root", b).load()
        val q = src.writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            snapshotSinkMerge(s, sv, id,
              batch.withColumn("price_band",
                floor(col("o_totalprice") / 50000).cast("int")),
              app = "silver")
          }
          .start()
        graft.streaming.DocIngest.await(q)
      }
      drain() // bronze → silver, everything but the late year
      // MAINTENANCE between drains: compact silver's per-epoch small
      // files (data-unchanged commit; batch readers see identical
      // rows, a downstream snapshot STREAM would see the rewritten
      // partitions re-emit — the documented ignoreChanges posture)
      SnapshotTable.optimize(s, sv,
        SnapshotTable.versions(sv).max + 1)
      // the late bronze slice lands AFTER the compaction; the same
      // checkpointed stream picks it up and appends into the
      // compacted table — the hop outlives its maintenance passes
      SnapshotTable.commit(s, b, SnapshotTable.versions(b).max + 1,
        base.filter(col("pt_year") === lateYear), Seq(lateYear))
      drain()
      (b, sv, ck)
    })
    SnapshotTable.read(s, silver, SnapshotTable.versions(silver).max)
      .groupBy("pt_year", "price_band")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        decSum("o_totalprice").as("total"))
  }

  // per-(JVM, sfDir) table-name memo for the SQL catalog gate
  private val sqlCatState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** SQL TIME TRAVEL through the DSv2 catalog — gate `sql_version_asof`:
    * the snapshot table served by `graft.sources.SnapshotCatalog` under
    * a catalog name, read with Spark's NATIVE `VERSION AS OF` clause —
    * v0 and the post-upsert v1 both queried in plain SQL, plus the
    * unclause'd head. The catalog instance is JVM-cached by Spark's
    * CatalogManager, so the base dir is a fixed per-JVM scratch root
    * and tables are per-sfDir subdirs. */
  private[graft] def sqlVersionAsOf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = scratch("sqlcat_base")
    val tname = sqlCatState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      val merged = upsertBatch(s, d).withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, root, 0)
          .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.commit(s, root, 1, merged, Seq(1997))
      n
    })
    s.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftlake.base", base)
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftlake.$tname $clause GROUP BY pt_year""")
    agg("v0", "VERSION AS OF 0")
      .unionByName(agg("v1", "VERSION AS OF 1"))
      .unionByName(agg("head", ""))
  }

  // per-(JVM, sfDir) table-name memo for the SQL insert gate
  private val sqlInsState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** SQL WRITE through the DSv2 catalog — gate `sql_insert_snapshot`:
    * plain `INSERT INTO <catalog>.<table> SELECT ...` lands as a TRUE
    * APPEND commit ([[graft.sources.SnapshotWrite]]) — fresh files +
    * an O(metadata) manifest merge, parent files never rewritten
    * (SqlInsertSpec pins their mtimes), full txn protocol.
    * The table starts as every year EXCEPT 1997; the SQL insert adds
    * the 1997 slice; the head then equals the plain orders table —
    * which is exactly what the oracle checks. Build+insert memoized
    * per (JVM, sfDir) so re-invocation reads the same head. */
  private[graft] def sqlInsertSnapshot(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlins_base")
    s.conf.set("spark.sql.catalog.graftins",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftins.base", base)
    val tname = sqlInsState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0,
        b.filter(col("pt_year") =!= 1997), years.filterNot(_ == 1997))
      b.filter(col("pt_year") === 1997)
        .createOrReplaceTempView(s"ins_src_$n")
      s.sql(s"INSERT INTO graftins.$n SELECT * FROM ins_src_$n")
      n
    })
    s.sql(
      s"""SELECT pt_year, cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftins.$tname GROUP BY pt_year""")
  }

  // per-(JVM, sfDir) table-name memo for the SQL delete gate
  private val sqlDelState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** SQL DELETE through the DSv2 catalog — gate `sql_delete_snapshot`:
    * `DELETE FROM <catalog>.<table> WHERE pt_year = 1996 AND
    * o_custkey <= 500` runs the partition-scoped copy-on-write delete
    * (SupportsDelete.deleteWhere): ONLY the 1996 partition rewrites
    * (from a DV-applied read of the survivors), every other partition
    * carries by pointer, and the pre-delete state stays served by
    * VERSION AS OF 0 — both states oracled in one labeled union. */
  private[graft] def sqlDeleteSnapshot(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqldel_base")
    s.conf.set("spark.sql.catalog.graftdel",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftdel.base", base)
    val tname = sqlDelState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      s.sql(s"DELETE FROM graftdel.$n " +
        "WHERE pt_year = 1996 AND o_custkey <= 500")
      n
    })
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftdel.$tname $clause GROUP BY pt_year""")
    agg("head", "").unionByName(agg("v0", "VERSION AS OF 0"))
  }

  /** SQL UPDATE through the DSv2 row-level operation — gate
    * `sql_update_snapshot`: `UPDATE <catalog>.<table> SET ... WHERE
    * pt_year = 1996 AND o_custkey <= 500` runs the GROUP-BASED
    * partition copy-on-write (SupportsRowLevelOperations →
    * ReplaceData): the pt_year conjunct prunes statically, runtime
    * group filtering confirms only 1996 holds matches, so exactly ONE
    * partition rewrites — file-granularly, stats-excluded files carry
    * (SqlMergeUpdateSpec pins both unmatched partitions' and carried
    * files' mtimes) — while VERSION AS OF 0 keeps serving the
    * pre-update state, both states oracled in one labeled union. The
    * +1.0 bump is exact in double, so Spark and DuckDB agree
    * bit-for-bit. FRESH lineage per invocation (fixed root cleared up
    * front): warm bench reps time the UPDATE itself, not just the
    * read-back of a memoized result. */
  private[graft] def sqlUpdateSnapshot(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlupd_base")
    s.conf.set("spark.sql.catalog.graftupd",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftupd.base", base)
    val tname = {
      val n = "t"
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      s.sql(s"UPDATE graftupd.$n SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE pt_year = 1996 AND o_custkey <= 500")
      n
    }
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftupd.$tname $clause GROUP BY pt_year""")
    agg("head", "").unionByName(agg("v0", "VERSION AS OF 0"))
  }

  /** MERGE-ON-READ SQL UPDATE + DELETE — gate `sql_update_mor`
    * (SupportsDelta over a `rowKey` table; the Iceberg-v2/Delta-DV
    * row-level shape): the table declares `TBLPROPERTIES ('rowKey' =
    * 'o_orderkey')`, so the UPDATE lands as tombstones + re-inserted
    * rows and the (untranslatable-predicate) DELETE as tombstones
    * alone — parent data files carry VERBATIM (SqlUpdateMorSpec pins
    * their mtimes), the commit costs O(delta), and reads apply the
    * birth-aware tombstones. Oracled against the plain-SQL equivalent;
    * the CoW twin gate (`sql_update_snapshot`) answers the same
    * queries through partition rewrites. Fresh lineage per
    * invocation. */
  private[graft] def sqlUpdateMor(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlmor_base")
    s.conf.set("spark.sql.catalog.graftmor",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmor.base", base)
    val n = "t"
    val root = s"$base/$n"
    SnapshotTable.deleteTree(root)
    s.sql("CREATE TABLE graftmor.t (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE, pt_year INT) " +
      "TBLPROPERTIES ('rowKey' = 'o_orderkey')")
    orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      .createOrReplaceTempView("mor_src")
    s.sql("INSERT INTO graftmor.t SELECT * FROM mor_src")
    // delta UPDATE: ~10% of keys tombstone + re-insert (modulo keeps
    // the predicate off the metadata-delete path)
    s.sql("UPDATE graftmor.t SET o_totalprice = o_totalprice + 5.0 " +
      "WHERE o_orderkey % 10 = 3")
    // delta DELETE: ~1% of keys tombstone only
    s.sql("DELETE FROM graftmor.t WHERE o_orderkey % 100 = 7")
    s.sql(
      s"""SELECT pt_year, cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftmor.t GROUP BY pt_year""")
  }

  /** BLOOM-FILTER point lookup — gate `scan_bloom_point`: the table
    * declares `TBLPROPERTIES ('bloomFilterColumns' = 'o_orderkey')`,
    * so every written file carries a parquet bloom on the key and the
    * probe's equality predicate (a degenerate [v, v] range →
    * `FilterApi.eq`) skips row groups the key cannot be in — the
    * file-skipping shape for `=`/`IN` on a high-cardinality,
    * NON-CLUSTERED key that min/max stats can't discriminate (Delta's
    * bloom index / Iceberg's parquet blooms). The probe key is
    * computed from the source (one-value driver collect, bounded) and
    * inlined as a literal so the filter actually pushes; the oracle
    * mirrors it as a scalar subquery. Fresh lineage per invocation. */
  private[graft] def scanBloomPoint(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("bloompoint_base")
    s.conf.set("spark.sql.catalog.graftbloom",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftbloom.base", base)
    val root = s"$base/t"
    SnapshotTable.deleteTree(root)
    s.sql("CREATE TABLE graftbloom.t (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE, pt_year INT) " +
      "TBLPROPERTIES ('bloomFilterColumns' = 'o_orderkey')")
    orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      .createOrReplaceTempView("bloom_src")
    s.sql("INSERT INTO graftbloom.t SELECT * FROM bloom_src")
    val probe = orders(s, d)
      .filter(col("o_orderkey") % 97 === 11)
      .agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    s.sql(
      s"""SELECT o_orderkey, o_custkey, pt_year,
            cast(cast(o_totalprice AS decimal(18,2)) AS double) AS price
          FROM graftbloom.t WHERE o_orderkey = $probe""")
  }

  /** SQL MERGE INTO through the DSv2 row-level operation — gate
    * `sql_merge_snapshot`: one statement composes matched UPDATE
    * (keys ≡1 mod 10 get +10.0), matched DELETE (keys ≡2 mod 10), and
    * NOT-MATCHED INSERT (negated keys ≡3 mod 10 landing in the brand-
    * new 2030 partition — an APPEND to a partition the scan never
    * read). Spark rewrites it into ReplaceData over the group scan;
    * the commit swaps the matched partitions' pointers and appends
    * the insert partition. Head and VERSION AS OF 0 both oracled.
    * FRESH lineage per invocation (fixed root cleared up front): warm
    * bench reps time the MERGE itself, not just the read-back. */
  private[graft] def sqlMergeSnapshot(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlmrg_base")
    s.conf.set("spark.sql.catalog.graftmrg",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmrg.base", base)
    val tname = {
      val n = "t"
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      val src = b.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
          (col("o_totalprice") + 10.0).as("np"),
          col("pt_year").as("y"), lit("U").as("op"))
        .unionByName(b.filter(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            col("o_totalprice").as("np"), col("pt_year").as("y"),
            lit("D").as("op")))
        .unionByName(b.filter(col("o_orderkey") % 10 === 3)
          .select((-col("o_orderkey")).as("k"),
            col("o_custkey").as("ck"), col("o_totalprice").as("np"),
            lit(2030).as("y"), lit("I").as("op")))
      src.createOrReplaceTempView(s"mrg_src_$n")
      s.sql(
        s"""MERGE INTO graftmrg.$n t USING mrg_src_$n s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
            WHEN NOT MATCHED THEN
              INSERT (o_orderkey, o_custkey, o_totalprice, pt_year)
              VALUES (s.k, s.ck, s.np, s.y)""")
      n
    }
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftmrg.$tname $clause GROUP BY pt_year""")
    agg("head", "").unionByName(agg("v0", "VERSION AS OF 0"))
  }

  /** Partition-scoped SQL INSERT OVERWRITE — gate
    * `sql_overwrite_partition`: `INSERT OVERWRITE <catalog>.<table>
    * PARTITION (pt_year = 1996) SELECT ...` lands as ONE commit
    * touching exactly the named partition (SupportsOverwrite with the
    * static EqualTo(pt_year) filter lowered to the partition-scoped
    * commit) — every other partition carries by pointer (SqlInsertSpec
    * pins their mtimes), batch rows outside the scope refuse, and
    * VERSION AS OF 0 keeps serving the pre-overwrite 1996. Head and v0
    * oracled in one labeled union. Fresh lineage per invocation: the
    * measured operator is the overwrite itself. */
  private[graft] def sqlOverwritePartition(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlovw_base")
    s.conf.set("spark.sql.catalog.graftovw",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftovw.base", base)
    val tname = {
      val n = "t"
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      b.filter(col("pt_year") === 1996)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
        .createOrReplaceTempView(s"ovw_src_$n")
      s.sql(s"INSERT OVERWRITE graftovw.$n PARTITION (pt_year = 1996) " +
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM ovw_src_$n")
      n
    }
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftovw.$tname $clause GROUP BY pt_year""")
    agg("head", "").unionByName(agg("v0", "VERSION AS OF 0"))
  }

  /** SQL `ALTER COLUMN ... TYPE <wider>` end-to-end — gate
    * `sql_alter_widen`: the table is born with o_custkey committed as
    * INT (every year except 1997), `ALTER TABLE ... ALTER COLUMN ck
    * TYPE BIGINT` lands as an O(1-manifest) schema-bump commit, and
    * the 1997 slice then INSERTs at the WIDE type — so the head scan
    * mixes pre-widen int32 files (reader upcasts by the FILE's
    * physical type) with post-widen int64 files under one bigint
    * schema, and the oracle checks the exact integral sum across
    * both. Fresh lineage per invocation. */
  private[graft] def sqlAlterWiden(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlwid_base")
    s.conf.set("spark.sql.catalog.graftwid",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftwid.base", base)
    val tname = {
      val n = "t"
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"),
        col("o_custkey").cast("int").as("ck"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val b0 = b.filter(col("pt_year") =!= 1997)
      val years = b0.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b0, years)
      s.sql(s"ALTER TABLE graftwid.$n ALTER COLUMN ck TYPE BIGINT")
      b.filter(col("pt_year") === 1997)
        .withColumn("ck", col("ck").cast("bigint"))
        .createOrReplaceTempView(s"wid_src_$n")
      s.sql(s"INSERT INTO graftwid.$n SELECT * FROM wid_src_$n")
      n
    }
    s.sql(
      s"""SELECT pt_year, cast(count(*) AS bigint) AS cnt,
            cast(sum(ck) AS bigint) AS sum_ck,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftwid.$tname GROUP BY pt_year""")
  }

  // per-(JVM, sfDir) table-name memo for the metadata-count gate
  private val cntState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** METADATA-ONLY COUNT(*) — gate `scan_count_meta`
    * (SupportsPushDownAggregates): an unfiltered count over the
    * snapshot connector answers from the manifest's per-file row
    * counts recorded at commit — ZERO data files (not even footers)
    * open at read. At 100 TB this is the difference between a
    * metadata lookup and a full-table scan for the most common
    * sanity query there is. Build memoized per (JVM, sfDir): the
    * measured operator is the count, which must stay O(manifest).
    * CountPushdownSpec pins the plan shape and the refusal cases
    * (deletion vectors, filters, legacy entries → correct full
    * scan). */
  private[graft] def scanCountMeta(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("cntmeta_base")
    val tname = cntState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b, years)
      n
    })
    s.read.format("graft-snapshot").option("root", s"$base/$tname")
      .load().createOrReplaceTempView(s"cntmeta_$tname")
    s.sql(s"SELECT cast(count(*) AS bigint) AS cnt FROM cntmeta_$tname")
  }

  /** MANIFEST-STATS MIN/MAX + partition-scoped COUNT — gate
    * `scan_minmax_meta` (the full Iceberg/Delta stats-aggregate
    * surface over SupportsPushDownAggregates): MIN/MAX answer from
    * the per-file column stats recorded at commit, and a `WHERE
    * pt_year = k` conjunct is CONSUMED by exact partition pruning so
    * the scoped twin answers from that partition's manifest alone —
    * both shapes open ZERO data files. Shares scan_count_meta's
    * memoized table (the measured operator is the aggregate, which
    * must stay O(manifest)). StatsAggPushSpec pins the plan shapes
    * and every refusal (DVs, NaN columns, stats gaps, strings). */
  private[graft] def scanMinMaxMeta(s: SparkSession,
      d: String): DataFrame = {
    scanCountMeta(s, d) // ensures the memoized table exists
    val base = scratch("cntmeta_base")
    val tname = cntState(d)
    s.read.format("graft-snapshot").option("root", s"$base/$tname")
      .load().createOrReplaceTempView(s"mmmeta_$tname")
    s.sql(
      s"""SELECT 'all' AS scope,
            cast(min(o_orderkey) AS bigint) AS k_lo,
            cast(max(o_orderkey) AS bigint) AS k_hi,
            cast(min(o_totalprice) AS double) AS p_lo,
            cast(max(o_totalprice) AS double) AS p_hi,
            cast(count(*) AS bigint) AS cnt,
            cast(count(o_custkey) AS bigint) AS cnt_ck
          FROM mmmeta_$tname
          UNION ALL
          SELECT 'y1995',
            cast(min(o_orderkey) AS bigint),
            cast(max(o_orderkey) AS bigint),
            cast(min(o_totalprice) AS double),
            cast(max(o_totalprice) AS double),
            cast(count(*) AS bigint),
            cast(count(o_custkey) AS bigint)
          FROM mmmeta_$tname WHERE pt_year = 1995""")
  }

  /** STAR JOIN with runtime partition pruning over the connector —
    * gate `join_dpp_snapshot` (the batch-scan
    * SupportsRuntimeV2Filtering surface; the single most common
    * 100 TB lakehouse shape): fact = the memoized snapshot orders
    * table partitioned by pt_year, dim = a per-year date dimension
    * with a SELECTIVE non-key predicate. No static pt_year conjunct
    * reaches the fact scan — the surviving dim keys arrive at the
    * scan as a runtime `pt_year IN (...)` filter (reusing the dim's
    * broadcast exchange), so only the matching partitions' files are
    * planned. DppSnapshotSpec pins exactly that (lastPlannedYears)
    * plus DPP-on/off result equality; at 100 TB this is the
    * difference between scanning 3 partitions and the table. */
  private[graft] def joinDppSnapshot(s: SparkSession,
      d: String): DataFrame = {
    scanCountMeta(s, d) // ensures the memoized snapshot table exists
    val base = scratch("cntmeta_base")
    val tname = cntState(d)
    val fact = s.read.format("graft-snapshot")
      .option("root", s"$base/$tname").load()
    val dim = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("pt_year"))
      .agg(min(to_date(col("o_orderdate"))).as("first_day"))
      .filter(col("first_day") >= lit("1996-01-01").cast("date"))
    fact.join(dim, "pt_year")
      .groupBy(col("pt_year"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
  }

  /** SQL `ALTER COLUMN ... RENAME` + `DROP COLUMN` end-to-end — gate
    * `sql_alter_rename` (Iceberg-style name mapping over schema-as-
    * metadata; see graft.sources.SnapshotSourceProvider.alterTable):
    * v0 lands every year but 1997 with columns (ck, junk_date), the
    * rename bumps ck→buyer and the drop retires junk_date — both
    * O(1-manifest) commits, zero data files moved — then 1997 appends
    * under the NEW schema. The head aggregate mixes pre-rename files
    * (whose footers still say `ck`; the reader resolves them through
    * the alias chain) with post-rename files under one schema, and
    * the oracle checks exact sums across both generations. Fresh
    * lineage per invocation. */
  private[graft] def sqlAlterRename(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlren_base")
    s.conf.set("spark.sql.catalog.graftren",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftren.base", base)
    val n = "t"
    val root = s"$base/$n"
    SnapshotTable.deleteTree(root)
    val b = orders(s, d).select(col("o_orderkey"),
      col("o_custkey").as("ck"), col("o_totalprice"),
      to_date(col("o_orderdate")).as("junk_date"),
      year(col("o_orderdate")).as("pt_year"))
    val b0 = b.filter(col("pt_year") =!= 1997)
    val years = b0.select("pt_year").distinct()
      .collect().map(_.getInt(0)).sorted
    SnapshotTable.commit(s, root, 0, b0, years)
    s.sql(s"ALTER TABLE graftren.$n RENAME COLUMN ck TO buyer")
    s.sql(s"ALTER TABLE graftren.$n DROP COLUMN junk_date")
    b.filter(col("pt_year") === 1997)
      .select(col("o_orderkey"), col("ck").as("buyer"),
        col("o_totalprice"), col("pt_year"))
      .createOrReplaceTempView(s"ren_src_$n")
    s.sql(s"INSERT INTO graftren.$n SELECT * FROM ren_src_$n")
    s.sql(
      s"""SELECT pt_year, cast(count(*) AS bigint) AS cnt,
            cast(sum(buyer) AS bigint) AS sum_buyer,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftren.$n GROUP BY pt_year""")
  }

  /** SQL maintenance procedures through the DSv2 ProcedureCatalog —
    * gate `sql_call_procedures` (Spark 4's `CALL` statement, the
    * Iceberg-procedure shape; see graft.sources.SnapshotProcedures):
    * the full maintenance lifecycle on one table. v0 lands FRAGMENTED
    * (32-task exchange, ~32 files per partition), `CALL
    * system.optimize` compacts every partition to one right-sized
    * file as v1, SQL DELETE carves 1996/custkey<=500 as v2, `CALL
    * system.restore(version => 1)` rolls back to the optimized
    * pre-delete state as v3, and `CALL system.vacuum(retain => 2)`
    * reclaims v0/v1 while head and v2 stay readable. The result
    * unions the head aggregate (== the plain orders projection — the
    * restore worked AND optimize/vacuum changed no data), the VERSION
    * AS OF 2 aggregate (the post-delete state surviving vacuum), and
    * the three CALL summary rows — version numbers, rewrite counts
    * and retention counts are deterministic, so the procedure OUTPUTS
    * themselves are oracled, not just the table states they leave.
    * Fresh lineage per invocation: the measured operator IS the
    * maintenance pipeline (like write_optimize_snapshot). */
  private[graft] def sqlCallProcedures(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlcall_base")
    s.conf.set("spark.sql.catalog.graftcall",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcall.base", base)
    // FIXED root, cleared up front: a UUID name would orphan a full
    // orders-sized lineage in scratch on every invocation
    val n = "t"
    val root = s"$base/$n"
    SnapshotTable.deleteTree(root)
    val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
    val years = b.select("pt_year").distinct()
      .collect().map(_.getInt(0)).sorted
    SnapshotTable.commit(s, root, 0, b.repartition(32), years,
      distribute = false)
    val opt = s.sql(s"CALL graftcall.system.optimize(table => '$n')")
      .collect().head
    s.sql(s"DELETE FROM graftcall.$n " +
      "WHERE pt_year = 1996 AND o_custkey <= 500")
    val res = s.sql(
      s"CALL graftcall.system.restore(table => '$n', version => 1)")
      .collect().head
    val vac = s.sql(
      s"CALL graftcall.system.vacuum(table => '$n', retain => 2)")
      .collect().head
    def agg(label: String, clause: String) = s.sql(
      s"""SELECT '$label' AS version, pt_year,
            cast(count(*) AS bigint) AS cnt,
            cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
            cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
              AS total
          FROM graftcall.$n $clause GROUP BY pt_year""")
    import s.implicits._
    val calls = Seq(
      ("call_optimize", opt.getInt(0), opt.getInt(1).toLong),
      ("call_restore", res.getInt(1), res.getInt(0).toLong),
      ("call_vacuum", vac.getInt(0), vac.getInt(1).toLong))
      .toDF("version", "pt_year", "cnt")
      .withColumn("n_keys", lit(0L)).withColumn("total", lit(0.0))
    agg("head", "").unionByName(agg("v2", "VERSION AS OF 2"))
      .unionByName(calls)
  }

  // per-(JVM, sfDir) table-name memo for the metadata-tables gate
  private val sqlMetaState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** METADATA TABLES through the catalog — gate `sql_metadata_tables`
    * (see graft.sources.SnapshotMetadataTables, the Iceberg
    * `tbl.history/.files/.partitions` pattern): a fragmented v0 is
    * optimized to exactly one file per partition as v1, then the gate
    * reads all three views in plain SQL. Deterministic because the
    * optimize target makes per-partition file counts exactly 1 at
    * every test SF (partition bytes ≪ 128 MB) and history's
    * n_partitions is the year count for both versions — so the
    * manifest-derived rows are oracle-computable from orders alone.
    * Build memoized per (JVM, sfDir): the measured operator is the
    * metadata READ (a production query inspects a long-lived table's
    * manifests; it doesn't rebuild the table per question). */
  private[graft] def sqlMetadataTables(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlmeta_base")
    s.conf.set("spark.sql.catalog.graftmeta",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftmeta.base", base)
    val tname = sqlMetaState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      val root = s"$base/$n"
      SnapshotTable.deleteTree(root)
      val b = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = b.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, b.repartition(32), years,
      distribute = false)
      SnapshotTable.optimize(s, root, 1)
      n
    })
    s.sql(
      s"""SELECT 'partitions' AS version, pt_year,
            cast(n_files AS bigint) AS cnt,
            cast(0 AS bigint) AS n_keys, cast(0.0 AS double) AS total
          FROM graftmeta.$tname.partitions
          UNION ALL
          SELECT 'files', pt_year, cast(count(*) AS bigint),
            cast(0 AS bigint), cast(0.0 AS double)
          FROM graftmeta.$tname.files GROUP BY pt_year
          UNION ALL
          SELECT 'history', cast(version AS int),
            cast(n_partitions AS bigint),
            cast(0 AS bigint), cast(0.0 AS double)
          FROM graftmeta.$tname.history""")
  }

  // per-(JVM, sfDir) state for the native streaming sink gate:
  // sfDir -> (table root, staged source dir, ckpt dir)
  private val nativeSinkState =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** NATIVE streaming sink — gate `streaming_native_sink`:
    * `writeStream.format("graft-snapshot")` with NO foreachBatch — the
    * connector's own StreamingWrite lands each epoch as a txn-recorded
    * append version, rows written executor-side, exactly-once via the
    * manifest txn guard (see graft.sources.SnapshotStreamingWrite).
    * The drained stream rebuilds the full orders projection from a
    * file-stream source, so the oracle is the plain orders aggregate;
    * re-invocation restarts from the checkpoint (empty epoch, no new
    * version). */
  private[graft] def streamingNativeSink(s: SparkSession,
      d: String): DataFrame = {
    val (root, stage, ckpt) = nativeSinkState.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val r = scratch(s"natsink_tbl_$run")
      SnapshotTable.deleteTree(r)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      // v0: the recorded schema, zero files — the stream builds the table
      SnapshotTable.commit(s, r, 0, base.filter(lit(false)), Seq.empty)
      val src = scratch(s"natsink_src_$run")
      base.write.mode(SaveMode.Overwrite).parquet(src)
      (r, src, scratch(s"natsink_ckpt_$run"))
    })
    val src = s.readStream
      .schema(s.read.parquet(stage).schema).parquet(stage)
    val q = src.writeStream.format("graft-snapshot")
      .option("root", root)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    graft.streaming.DocIngest.await(q)
    SnapshotTable.read(s, root, SnapshotTable.versions(root).max)
      .groupBy("pt_year")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        decSum("o_totalprice").as("total"))
  }

  // per-(JVM, sfDir) table-name memo for the SQL CTAS gate
  private val sqlCtasState =
    scala.collection.concurrent.TrieMap[String, String]()

  /** SQL DDL through the DSv2 catalog — gate `sql_ctas_snapshot`:
    * `CREATE TABLE <catalog>.<t> AS SELECT ...` creates the table as
    * an empty v0 (createTable) and lands the SELECT as the v1 append
    * through the normal write path — the catalog is CRUD-complete.
    * The CTAS materializes the per-(custkey, year) order rollup; the
    * oracle recomputes it from orders directly. */
  private[graft] def sqlCtasSnapshot(s: SparkSession,
      d: String): DataFrame = {
    val base = scratch("sqlctas_base")
    s.conf.set("spark.sql.catalog.graftctas",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftctas.base", base)
    val tname = sqlCtasState.getOrElseUpdate(d, {
      val n = "t_" + java.util.UUID.randomUUID().toString.take(8)
      SnapshotTable.deleteTree(s"$base/$n")
      orders(s, d).createOrReplaceTempView(s"ctas_src_$n")
      s.sql(
        s"""CREATE TABLE graftctas.$n AS
            SELECT o_custkey, cast(year(o_orderdate) AS int) AS pt_year,
              count(*) AS n_orders,
              cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
                AS total
            FROM ctas_src_$n GROUP BY o_custkey, 2""")
      n
    })
    s.sql(
      s"""SELECT pt_year, cast(count(*) AS bigint) AS n_rows,
            cast(sum(n_orders) AS bigint) AS n_orders,
            cast(sum(cast(total AS decimal(18,2))) AS double) AS total
          FROM graftctas.$tname GROUP BY pt_year""")
  }

  // per-(JVM, sfDir) CDC-applied table for the streaming apply twin
  private val streamApplyState =
    scala.collection.concurrent.TrieMap[String, (String, String, String)]()

  /** Streaming twin of write_apply_changes — gate
    * `streaming_ingest_apply`: the op-labeled I/U/D feed ARRIVES as
    * micro-batches, each applied through the same [[applyChanges]] the
    * batch gate uses (foreachBatch + durable checkpoint). Batch-split
    * invariance here comes from KEY DISJOINTNESS, not a monoid: every
    * key appears in the feed at most once (updates hit 1997 keys,
    * inserts mint fresh keys, deletes hit 1996 keys), so per-key
    * operations commute across any arrival split and the batch gate's
    * DuckDB oracle verifies the stream unchanged. Restart safety is the
    * composition of the checkpoint's offset log (a drained file never
    * re-delivers) with applyChanges' idempotence (an at-least-once
    * redelivery would still be a no-op) — the two layers a production
    * CDC consumer needs. */
  private[graft] def streamingApplyChanges(s: SparkSession,
      d: String): DataFrame = {
    import graft.streaming.DocIngest
    val (base, stage, ckpt) = streamApplyState.getOrElseUpdate(d, {
      val run = java.util.UUID.randomUUID().toString.take(8)
      val b = scratch(s"stream_apply_tbl_$run")
      val st = scratch(s"stream_apply_stage_$run")
      val ck = scratch(s"stream_apply_ckpt_$run")
      upsertLoad(s, d, b)
      (b, st, ck)
    })
    val arrivals = DocIngest.stagedDirOf(s"applychg|$d", "o_orderkey",
      changeFeed(s, d))
    val src = DocIngest.sourceOver(s, arrivals,
      s.read.parquet(arrivals + "/b0").schema)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChanges(s, base, stage, batch)
      }
      .start()
    DocIngest.await(q)
    s.read.parquet(base)
      .groupBy("pt_year")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        decSum("o_totalprice").as("total"))
  }

  private[graft] def scd2Load(s: SparkSession, d: String,
      base: String): Unit =
    customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("valid_from", lit(0))
      .withColumn("valid_to", lit(9999))
      .withColumn("is_current", lit(true))
      .write.mode(SaveMode.Overwrite).partitionBy("is_current")
      .parquet(base)

  /** Change batch for version `v`: every key ≡ 0 (mod 7) re-balanced
    * (+50·v, from the source system's view of the dim), plus — in batch
    * 1 only — brand-new keys. */
  private[graft] def scd2Batch(s: SparkSession, d: String,
      v: Int): DataFrame = {
    val ch = customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .filter(col("c_custkey") % 7 === 0)
    val upd = ch.withColumn("c_acctbal", col("c_acctbal") + 50.0 * v)
    if (v == 1)
      upd.unionByName(ch.select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_nationkey"), lit(10.0).as("c_acctbal")))
    else upd
  }

  /** SCD Type-2 historization — the OTHER merge shape a warehouse needs:
    * instead of replacing a matched row (write_upsert), the current
    * version is CLOSED (valid_to stamped) and the new version opened,
    * so every key keeps its full change history with validity
    * intervals.
    *
    * Storage layout is the scale story: the table partitions on
    * `is_current`. A merge (a) APPENDS the closed rows to the history
    * partition — history files are immutable, append cost = changed
    * rows; (b) rewrites the current partition via a staged commit —
    * cost = current size, never table-plus-history size. History grows
    * forever but is never rewritten (Scd2Spec proves merge #2 leaves
    * merge #1's history files byte-identical). The change batch drives
    * the key probe and is broadcast (a corpus-scale batch would fall
    * back to a shuffle join on the key). */
  private[graft] def scd2Merge(s: SparkSession, d: String, base: String,
      stage: String, v: Int): Unit = {
    val b = scd2Batch(s, d, v)
    val cur = s.read.parquet(base + "/is_current=true")
    val keys = b.select("c_custkey")
    // close: current versions of batched keys move to history (append —
    // existing history files are never touched)
    cur.join(broadcast(keys), Seq("c_custkey"), "left_semi")
      .withColumn("valid_to", lit(v))
      .write.mode(SaveMode.Append).parquet(base + "/is_current=false")
    // open: surviving current rows + the batch as new open versions.
    // The stage hop exists because the current dir cannot be
    // overwritten while it is being read — but once the staged write
    // has materialized the new state, publishing it is a FILE MOVE,
    // not a second decode+re-encode job (guide §6: don't rewrite
    // bytes you can rename; this is what a table-format commit does).
    // Saves one full write job per merge; read-back rows identical.
    val stay = cur.join(broadcast(keys), Seq("c_custkey"), "left_anti")
    val opened = b.withColumn("valid_from", lit(v))
      .withColumn("valid_to", lit(9999))
    stay.unionByName(opened)
      .write.mode(SaveMode.Overwrite).parquet(stage)
    val conf = s.sparkContext.hadoopConfiguration
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(base, "is_current=true")
    fs.delete(target, true)
    fs.mkdirs(target)
    fs.listStatus(stagePath).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        require(fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(target, f.getPath.getName)),
          s"scd2 publish: rename of ${f.getPath} failed")
      }
  }

  /** 16-bit Morton (Z-order) interleave of two key columns — the math
    * behind OPTIMIZE ZORDER BY in lakehouse table formats: range-
    * partitioning on the interleaved value co-locates rows that are
    * close in BOTH dimensions, so per-file min/max stats prune scans
    * filtered on EITHER column. Pure integer bit ops (codegen'd, no
    * UDF), deterministic, oracle-expressible. */
  private[graft] def zvalExpr(a: String, b: String): String =
    (0 until 16).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    ).mkString(" + ")

  /** Z-order layout write: project the z-value, range-partition on it,
    * sort within partitions, write. The sampling pass repartitionByRange
    * runs to pick boundaries is one lightweight scan; the layout then
    * serves every future two-column-filtered read with file skipping —
    * at 100 TB this is the difference between touching 8 files and
    * touching all of them (ZOrderSpec measures the spread contraction). */
  private[graft] def zorderWrite(s: SparkSession, d: String,
      out: String): Unit =
    lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        expr(zvalExpr("l_partkey", "l_suppkey")).cast("bigint").as("zval"))
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode(SaveMode.Overwrite).parquet(out)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Z-order clustering round trip: write the Morton-interleaved
    // layout, read it back; the oracle recomputes the interleave per
    // row, proving the curve math and write fidelity. File-skipping
    // benefit is asserted separately (ZOrderSpec).
    "write_zordered" -> ((s, d) => {
      val out = scratch("zorder_out")
      zorderWrite(s, d, out)
      s.read.parquet(out)
    }),

    // Globally range-sorted layout: repartitionByRange picks split
    // points from a sampling pass, sortWithinPartitions orders inside
    // each range — together a total order across files WITHOUT a
    // single-reducer global sort (each partition sorts independently;
    // this is how ORDER BY ... distributes anyway, made durable as a
    // layout). Files then carry disjoint min/max key ranges, so any
    // key- or range-filtered scan skips all but the matching files —
    // the 1-D sibling of the z-order layout (ZOrderSpec asserts the
    // disjoint-range contract).
    "write_range_sorted" -> ((s, d) => {
      val out = scratch("rangesort_out")
      lineitem(s, d).select("l_orderkey", "l_linenumber", "l_shipdate")
        .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
        .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
        .write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out)
    }),

    // Static partition: a fixed partition value is overwritten in place —
    // modeled as writing the filtered slice under its partition directory.
    "insert_overwrite_static_pt" -> ((s, d) => {
      val base = scratch("static_pt")
      orders(s, d).filter(col("o_orderstatus") === "F")
        .drop("o_orderstatus")
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$base/o_orderstatus=F")
      s.read.option("basePath", base).parquet(s"$base/o_orderstatus=F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("total"))
    }),

    // Dynamic partition: partition values come from the data
    // (hive.exec.dynamic.partition.mode=nonstrict in the reference,
    // easy_sql/spark_optimizer.py:52-56).
    "insert_dynamic_pt" -> ((s, d) => {
      val base = scratch("dynamic_pt")
      orders(s, d).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(base)
      s.read.parquet(base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("total"))
    }),

    // Bucketed co-located join: both sides pre-bucketed (and sorted)
    // on the join key, so the SortMergeJoin consumes bucket files
    // directly — ZERO shuffle on either join input. THE join layout for
    // repeated large-table joins at 100 TB: pay one bucketed write,
    // then every subsequent join on that key is exchange-free. The only
    // exchange left in this plan is the final group-by
    // (BucketedJoinSpec asserts exactly that).
    "bucketed_join_colocated" -> ((s, d) => {
      // Setup (the two bucketed table writes) is per-JVM durable, like
      // the streaming gates' checkpoints: the operator under measure is
      // the zero-exchange join, and rebuilding the bucketed tables on
      // every invocation re-measures setup IO instead. The first
      // invocation writes both tables as concurrent jobs (the overlap a
      // cluster scheduler gives independent stages); re-invocations
      // join the existing tables — which is what a production bucketed
      // layout is FOR.
      WriteOps.bucketedSetup.getOrElseUpdate(d, {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val writes = Seq(
          Future(orders(s, d).write.mode(SaveMode.Overwrite)
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .saveAsTable("g_bkt_orders")),
          Future(customer(s, d).write.mode(SaveMode.Overwrite)
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .saveAsTable("g_bkt_customer")))
        writes.foreach(
          Await.result(_, scala.concurrent.duration.Duration.Inf))
      })
      s.table("g_bkt_orders")
        .join(s.table("g_bkt_customer"),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_ord"), decSum("o_totalprice").as("total"))
    }),

    // Source-format breadth: the same relations written to and read
    // back from CSV (quoted headers) and JSON lines, then joined —
    // proving the non-parquet source paths parse types and quoting
    // correctly. Explicit schemas on read: schema inference is a
    // per-run full scan AND a drift risk at scale.
    "scan_csv_json" -> ((s, d) => {
      val csvDir = scratch("fmt_csv")
      val jsonDir = scratch("fmt_json")
      val n = nation(s, d)
      val r = region(s, d)
      n.write.mode(SaveMode.Overwrite).option("header", "true").csv(csvDir)
      r.write.mode(SaveMode.Overwrite).json(jsonDir)
      val nBack = s.read.option("header", "true").schema(n.schema).csv(csvDir)
      val rBack = s.read.schema(r.schema).json(jsonDir)
      nBack.join(rBack, col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"),
          col("r_name").as("region_name"))
    }),

    // ORC round trip — the second columnar format Spark ships natively
    // (vectorized reader, predicate pushdown, same splittable layout
    // economics as parquet): write orders as ORC, read it back, and
    // aggregate so the oracle proves value fidelity through the
    // format's own encoders (double/long/int all round-trip exact).
    "scan_orc" -> ((s, d) => {
      val orcDir = scratch("fmt_orc")
      orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
        .write.mode(SaveMode.Overwrite).orc(orcDir)
      s.read.orc(orcDir)
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
    }),

    // Malformed-input hardening: a JSONL source where a known subset of
    // lines is deliberately truncated mid-record. PERMISSIVE mode with
    // a _corrupt_record column QUARANTINES bad lines (other fields
    // null, raw line captured) instead of failing the job — the
    // production posture for crawl-scale ingestion where some fraction
    // of every batch is broken; FAILFAST would kill a 100 TB job on
    // the first bad line. The oracle predicts both groups exactly from
    // the corruption contract (every doc_id ≡ 0 mod 50 truncated).
    // Corrupt lines truncate INSIDE the first key token (`{"doc_id<n>`,
    // unterminated key string), so NO prefix field is parseable — the
    // oracle's "corrupt rows parse nothing" contract holds regardless
    // of spark.sql.json.enablePartialResults (which can retain
    // already-parsed fields of a record that fails mid-parse and is
    // conf/version-sensitive; a mid-record truncation after a complete
    // doc_id field would silently drift on it).
    "scan_json_corrupt" -> ((s, d) => {
      val dir = scratch("json_corrupt")
      documents(s, d).select(
        when(col("doc_id") % 50 === 0,
          concat(lit("{\"doc_id"), col("doc_id")))
        .otherwise(
          concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"n_chars\": "), col("n_chars"), lit("}")))
        .as("value"))
        .write.mode(SaveMode.Overwrite).text(dir)
      s.read
        .schema("doc_id LONG, n_chars LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .groupBy(col("_corrupt_record").isNotNull.as("is_corrupt"))
        .agg(count(lit(1)).as("cnt"),
          sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
    }),

    // Small-files compaction round trip: fragment orders into 64 tiny
    // files, compact to byte-targeted right-sized files, aggregate the
    // read-back so the oracle proves no row was lost or duplicated.
    // CompactionSpec asserts the file-count contract separately.
    "write_compacted" -> ((s, d) => {
      val frag = scratch("compact_src")
      val out = scratch("compact_out")
      orders(s, d).repartition(64)
        .write.mode(SaveMode.Overwrite).parquet(frag)
      compact(s, frag, out, targetFileBytes = 4L * 1024 * 1024)
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             countDistinct(col("o_orderkey")).as("n_keys"),
             decSum("o_totalprice").as("total"))
    }),

    // INCREMENTAL VIEW MAINTENANCE (see incrAggMerge's scaladoc): the
    // materialized per-customer aggregate is built from pre-1997
    // history, then the 1997 batch merges in as combinable partials —
    // batch-sized work + touched-bucket reads, never a recompute. The
    // read-back must equal aggregating all of history from scratch
    // (the oracle does exactly that), proving the partials' monoid.
    "write_incremental_agg" -> ((s, d) => {
      val base = scratch("incr_agg_tbl")
      incrAggLoad(s, d, base)
      incrAggMerge(s, base, scratch("incr_agg_stage"),
        orders(s, d).filter(year(col("o_orderdate")) === 1997))
      s.read.parquet(base)
        .select(col("o_custkey"), col("n_orders"),
          col("total_dec").cast("double").as("total"),
          (col("total_dec").cast("double") /
            col("n_orders").cast("double")).as("avg_price"))
    }),

    // Streaming twin of the incremental aggregate (see
    // streamingIncrAgg's scaladoc): same oracle as
    // write_incremental_agg because the merge partials form a
    // commutative monoid — the batch split cannot change the result.
    "streaming_ingest_agg" -> ((s, d) => streamingIncrAgg(s, d)),

    // DATA SKIPPING on the snapshot table (see SnapshotTable's stats
    // block): per-file column min/max recorded from parquet FOOTERS at
    // commit, a narrow o_custkey range query pruned to the surviving
    // files in MANIFEST metadata (readRange), residual filter restores
    // row granularity. The table is range-clustered by o_custkey so the
    // recorded ranges are near-disjoint and most files skip
    // (DataSkippingSpec asserts the pruned-file count; the oracle
    // proves the pruned scan loses nothing).
    "write_skipping_scan" -> ((s, d) => {
      val root = skippingTable(s, d)
      SnapshotTable.readRange(s, root, 0, "o_custkey", 100L, 400L)
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
    }),

    // streaming sink into the snapshot table (see streamingSnapshotSink)
    "streaming_ingest_snapshot" -> ((s, d) => streamingSnapshotSink(s, d)),

    // streaming read FROM the snapshot table through the DSv2
    // connector (see streamingSnapshotSource / graft.sources)
    "streaming_source_snapshot" -> ((s, d) => streamingSnapshotSource(s, d)),

    // ADMISSION CONTROL on the DSv2 source (maxVersionsPerTrigger=1 —
    // Delta's maxFilesPerTrigger analog): the same backfill PACED into
    // one-version micro-batches; pacing must not change the landed
    // table (same oracle), and SnapshotSourceSpec asserts the batch
    // count actually split. At 100 TB this is what makes a years-deep
    // backfill checkpointable instead of one all-or-nothing batch.
    "streaming_source_ratelimit" ->
      ((s, d) => streamingSnapshotSource(s, d, maxVersions = Some(1))),

    // bronze→silver: DSv2 source + txn sink composed in one stream
    // (see streamingSnapshotPipeline)
    "streaming_pipeline_snapshot" ->
      ((s, d) => streamingSnapshotPipeline(s, d)),

    // SQL time travel: VERSION AS OF through the DSv2 catalog
    // (see sqlVersionAsOf / graft.sources.SnapshotCatalog)
    "sql_version_asof" -> ((s, d) => sqlVersionAsOf(s, d)),

    // SQL writes: INSERT INTO through the DSv2 catalog lands as a TRUE
    // APPEND commit (see sqlInsertSnapshot / graft.sources.SnapshotWrite)
    "sql_insert_snapshot" -> ((s, d) => sqlInsertSnapshot(s, d)),

    // SQL DELETE: partition-scoped copy-on-write via SupportsDelete
    // (see sqlDeleteSnapshot), pre-delete state time-traveled
    "sql_delete_snapshot" -> ((s, d) => sqlDeleteSnapshot(s, d)),
    "sql_update_snapshot" -> ((s, d) => sqlUpdateSnapshot(s, d)),

    // merge-on-read row-level ops: UPDATE/DELETE on a rowKey table
    // land as tombstones + appends, zero files rewritten (see
    // sqlUpdateMor / SupportsDelta)
    "sql_update_mor" -> ((s, d) => sqlUpdateMor(s, d)),

    // bloom-filter point lookup: equality probe on a non-clustered
    // high-cardinality key skips row groups via the declared parquet
    // bloom (see scanBloomPoint)
    "scan_bloom_point" -> ((s, d) => scanBloomPoint(s, d)),
    "sql_merge_snapshot" -> ((s, d) => sqlMergeSnapshot(s, d)),
    "sql_overwrite_partition" -> ((s, d) => sqlOverwritePartition(s, d)),
    "sql_alter_widen" -> ((s, d) => sqlAlterWiden(s, d)),
    "sql_alter_rename" -> ((s, d) => sqlAlterRename(s, d)),
    "scan_count_meta" -> ((s, d) => scanCountMeta(s, d)),
    "scan_minmax_meta" -> ((s, d) => scanMinMaxMeta(s, d)),

    // star join over the connector: a selective dim predicate reaches
    // the fact scan as a RUNTIME pt_year filter (DPP) — only matching
    // partitions' files are planned (see joinDppSnapshot)
    "join_dpp_snapshot" -> ((s, d) => joinDppSnapshot(s, d)),

    // SQL maintenance: CALL system.{optimize,restore,vacuum} through
    // the DSv2 ProcedureCatalog (see sqlCallProcedures)
    "sql_call_procedures" -> ((s, d) => sqlCallProcedures(s, d)),

    // metadata tables: <t>.history/.files/.partitions in plain SQL
    // (see sqlMetadataTables / graft.sources.SnapshotMetadataTables)
    "sql_metadata_tables" -> ((s, d) => sqlMetadataTables(s, d)),

    // NATIVE streaming sink: writeStream.format("graft-snapshot") with
    // no foreachBatch — executor-side writers, per-epoch txn-recorded
    // append versions, exactly-once (see streamingNativeSink)
    "streaming_native_sink" -> ((s, d) => streamingNativeSink(s, d)),

    // SQL DDL: CREATE TABLE AS SELECT through the catalog — empty v0
    // create + the SELECT landing as the v1 append (see sqlCtasSnapshot)
    "sql_ctas_snapshot" -> ((s, d) => sqlCtasSnapshot(s, d)),

    // SHALLOW CLONE (see SnapshotTable.shallowClone): dev/test forks of
    // a production table for the cost of ONE manifest write — the
    // clone's v0 points at the source's files in place, then the clone
    // evolves independently (its upsert writes fresh files under its
    // own root; the source's head stays byte-identical — CloneSpec pins
    // the mtimes and the no-data-dir contract). The oracle proves the
    // source is untouched by the clone's merge and the clone's history
    // reads like any table's. At 100 TB: fork cost is O(|partitions|)
    // metadata, zero data.
    "write_shallow_clone" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val src = scratch("clone_src_tbl")
      val dst = scratch("clone_dst_tbl")
      SnapshotTable.deleteTree(src); SnapshotTable.deleteTree(dst)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, src, 0, base, years)
      SnapshotTable.shallowClone(src, dst)
      // the CLONE takes the 1997 upsert; the source must not move
      val merged = upsertBatch(s, d).withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, dst, 0)
          .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.commit(s, dst, 1, merged, Seq(1997))
      def snap(root: String, v: Int, label: String) =
        SnapshotTable.read(s, root, v)
          .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            decSum("o_totalprice").as("total"))
          .withColumn("version", lit(label))
      snap(src, 0, "source_head").unionByName(snap(dst, 0, "clone_v0"))
        .unionByName(snap(dst, 1, "clone_v1"))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // RESTORE (see SnapshotTable.restore): v1 is a BAD 1997 load
    // (re-priced rows + phantom inserts — the operator-error shape);
    // v2 RESTORES the table to v0 in ONE metadata write — pointers
    // copied back, zero data moved (RestoreSpec pins the file list and
    // mtimes), history preserved (v1 stays readable). The oracle
    // proves v1 held the bad state and the restored head equals the
    // original exactly. At 100 TB: un-doing a bad load is
    // O(|partitions|) metadata, never a rewrite.
    "write_restore" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val root = scratch("restore_tbl")
      SnapshotTable.deleteTree(root)
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      val merged = upsertBatch(s, d).withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, root, 0)
          .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.commit(s, root, 1, merged, Seq(1997))
      SnapshotTable.restore(root, 2, 0)
      def snap(v: Int, label: String) =
        SnapshotTable.read(s, root, v)
          .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            decSum("o_totalprice").as("total"))
          .withColumn("version", lit(label))
      snap(1, "v1_bad").unionByName(snap(2, "v2_restored"))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // DELETION VECTORS — merge-on-read deletes (see SnapshotTable's DV
    // block): v1 deletes the 1996 ≡3-mod-10 keys as a METADATA commit
    // (parent pointers verbatim + one small tombstone dir — zero
    // data files moved, DeleteVectorSpec pins the mtimes), v2 rewrites
    // the 1996 partition and thereby PURGES it physically (fresh files
    // come from the DV-applied read; the carried entry drops 1996).
    // The oracle proves logical == physical == the plain anti-filter,
    // and that v0 time-travels intact. At 100 TB this is the GDPR
    // path: deleting a million keys costs O(keys) metadata now and a
    // normal rewrite later, never an immediate table-scale rewrite.
    "write_delete_vectors" -> ((s, d) => {
      val root = scratch("dv_tbl")
      SnapshotTable.deleteTree(root) // fresh lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      val doomed = SnapshotTable.read(s, root, 0)
        .filter(col("pt_year") === 1996 && col("o_orderkey") % 10 === 3)
        .select("o_orderkey", "pt_year")
      SnapshotTable.commitDelete(s, root, 1, "o_orderkey", doomed)
      SnapshotTable.commit(s, root, 2,
        SnapshotTable.read(s, root, 1).filter(col("pt_year") === 1996),
        Seq(1996))
      def snap(v: Int, label: String) = SnapshotTable.read(s, root, v)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
        .withColumn("version", lit(label))
      snap(0, "v0").unionByName(snap(1, "v1_logical"))
        .unionByName(snap(2, "v2_physical"))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // OPTIMIZE ZORDER × DATA SKIPPING — the full lakehouse maintenance
    // loop in one gate: a fragmented commit is z-order-compacted
    // (Morton interleave of l_partkey × l_suppkey), the rewrite's own
    // file stats land in v1's manifest, and a CONJUNCTIVE two-column
    // range read (readWhere) prunes files that can't hold EITHER
    // predicate — the multiplicative skip a 2-D clustered layout buys
    // that 1-D sorting can't (DataSkippingSpec asserts the prune; the
    // oracle proves the pruned scan is exact).
    "write_zorder_scan" -> ((s, d) => {
      val root = zorderSnapTable(s, d)
      SnapshotTable.readWhere(s, root, 1,
          Seq(("l_partkey", 10L, 60L), ("l_suppkey", 2L, 5L)))
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("l_orderkey")).as("n_keys"),
          decSum("l_quantity").as("total_qty"))
    }),

    // streaming twin of write_apply_changes (see streamingApplyChanges)
    "streaming_ingest_apply" -> ((s, d) => streamingApplyChanges(s, d)),

    // MERGE INTO over plain parquet: partition-scoped copy-on-write
    // upsert (see upsertMerge's scaladoc) — load, merge the 1997 change
    // batch via staged commit + dynamic overwrite, read back the table.
    "write_upsert" -> ((s, d) => {
      val base = scratch("upsert_tbl")
      upsertLoad(s, d, base)
      upsertMerge(s, d, base, scratch("upsert_stage"))
      s.read.parquet(base)
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
    }),

    // MERGE with SCHEMA EVOLUTION: same partition-scoped CoW, but the
    // change batch adds a column the table has never seen. Stay rows
    // null-fill, the widened schema lands in touched partitions only,
    // and the read side resolves the on-disk mix with mergeSchema —
    // counting per-channel rows proves updates/inserts carry the new
    // column while every pre-existing row reads back NULL.
    "write_upsert_evolve" -> ((s, d) => {
      val base = scratch("upsert_evo_tbl")
      upsertLoad(s, d, base)
      upsertMerge(s, d, base, scratch("upsert_evo_stage"), evolve = true)
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"),
          count(col("o_channel")).as("n_chan"),
          count(when(col("o_channel") === "web", 1)).as("n_web"),
          count(when(col("o_channel") === "bulk", 1)).as("n_bulk"))
    }),

    // TIME TRAVEL over the manifest-committed snapshot table (see
    // SnapshotTable's scaladoc): v0 = load, v1 = the 1997 upsert-merge,
    // v2 = a MERGE DELETE (1996 keys ≡ 3 mod 10 removed) — then
    // vacuum(retain 2) drops v0's unreferenced files. The gate reads
    // EVERY version (v0/v1/v2 pre-vacuum, v2 again post-vacuum) through
    // one labeled union, so a commit that disturbed an older snapshot,
    // a delete that leaked, or a vacuum that touched a retained file is
    // a hash mismatch. The pre-vacuum snapshot aggregates (≤ 4 rows per
    // version) are materialized via localCheckpoint before vacuum
    // removes v0's manifest.
    "write_time_travel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val root = scratch("snap_tbl")
      SnapshotTable.deleteTree(root) // fresh table lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      // bounded partition metadata (distinct years), not data
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      val merged1 = upsertBatch(s, d).withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, root, 0)
          .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.commit(s, root, 1, merged1, Seq(1997))
      val kept96 = SnapshotTable.read(s, root, 1)
        .filter(col("pt_year") === 1996 && !(col("o_orderkey") % 10 === 3))
      SnapshotTable.commit(s, root, 2, kept96, Seq(1996))
      def snap(v: Int, label: String) = SnapshotTable.read(s, root, v)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
        .withColumn("version", lit(label))
      val history = snap(0, "v0").unionByName(snap(1, "v1"))
        .unionByName(snap(2, "v2")).localCheckpoint(true)
      SnapshotTable.vacuum(root, retain = 2)
      history.unionByName(snap(2, "v2_post_vacuum"))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // WRITE-AUDIT-PUBLISH (see SnapshotTable.stageCommit/publishBranch/
    // abandonBranch): the production ingest-gating pattern — a batch is
    // staged on a branch main cannot see, AUDITED there (here:
    // key-uniqueness on the staged partition; in production, e.g. the
    // stats_drift_chi2 monitor), and then published as the next version
    // by ONE atomic metadata rename — zero data movement. A second
    // branch stages a corrupt batch (duplicated rows), FAILS its audit,
    // and is abandoned — the gate reads head after the abandon and the
    // oracle proves it identical to the published v1: a failed audit
    // leaves main untouched, which is the entire point of WAP. At
    // 100 TB: staging cost = the batch's partitions (same as commit),
    // audit cost = the audit query, publish cost = one manifest rename.
    // WapSpec adds the contracts the hash can't state: main-invisible
    // staging, metadata-only publish (file mtimes), abandon reclaiming
    // exactly the branch's files, and the stale-parent publish refusal.
    "write_wap_publish" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val root = scratch("wap_tbl")
      SnapshotTable.deleteTree(root) // fresh lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      // WRITE: stage the 1997 upsert on a branch main cannot see
      val merged = upsertBatch(s, d).withColumn("src", lit(1))
        .unionByName(SnapshotTable.read(s, root, 0)
          .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
        .filter(col("rn") === 1).drop("rn", "src")
      SnapshotTable.stageCommit(s, root, "ingest", merged, Seq(1997))
      // AUDIT on the branch: staged partition must be key-unique
      val a = SnapshotTable.readBranch(s, root, "ingest")
        .filter(col("pt_year") === 1997)
        .agg(count(lit(1)).as("c"), countDistinct(col("o_orderkey")).as("k"))
        .head
      require(a.getLong(0) == a.getLong(1),
        "audit failed: duplicate keys in the staged 1997 partition")
      // PUBLISH: one atomic manifest rename
      val v1 = SnapshotTable.publishBranch(root, "ingest")
      // a corrupt batch fails its audit and is abandoned
      val bad = SnapshotTable.read(s, root, v1)
        .filter(col("pt_year") === 1996)
      SnapshotTable.stageCommit(s, root, "bad-batch",
        bad.unionByName(bad), Seq(1996))
      val b = SnapshotTable.readBranch(s, root, "bad-batch")
        .filter(col("pt_year") === 1996)
        .agg(count(lit(1)).as("c"), countDistinct(col("o_orderkey")).as("k"))
        .head
      require(b.getLong(0) != b.getLong(1),
        "the corrupt batch should have failed its audit")
      SnapshotTable.abandonBranch(root, "bad-batch")
      def snap(v: Int, label: String) = SnapshotTable.read(s, root, v)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
        .withColumn("version", lit(label))
      val head = SnapshotTable.versions(root).max
      snap(0, "v0").unionByName(snap(v1, "v1_published"))
        .unionByName(snap(head, "head_post_abandon"))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // SCHEMA EVOLUTION on the snapshot table — the lakehouse ADD
    // COLUMN commit (write_upsert_evolve's plain-parquet cousin, now
    // with schema-as-metadata): v1's commit carries a column the table
    // has never seen, the merged schema is RECORDED in v1's top
    // manifest (parent schema ∪ slice schema, new columns nullable,
    // type changes refused loudly), and reads resolve the recorded
    // schema — carried files missing the column null-fill it with ZERO
    // footer sampling, and v0 keeps its old schema verbatim (reading
    // it shows no ghost column). Untouched partition files stay
    // byte-identical (spec) — evolution costs one metadata line.
    // At 100 TB: the schema lives in |versions| manifest headers, not
    // in a million footers; readers of any width pay nothing for it.
    "write_snapshot_evolve" -> ((s, d) => {
      val root = scratch("snap_evolve_tbl")
      SnapshotTable.deleteTree(root) // fresh lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      // the evolving batch: 1997 re-priced AND carrying a new column
      val evolved = SnapshotTable.read(s, root, 0)
        .filter(col("pt_year") === 1997)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("o_channel", lit("web"))
      SnapshotTable.commit(s, root, 1, evolved, Seq(1997))
      // schema-as-metadata sanity (spec pins the full contract)
      require(SnapshotTable.tableSchema(root, 1)
        .exists(_.fieldNames.contains("o_channel")),
        "v1's manifest does not record the evolved schema")
      require(SnapshotTable.tableSchema(root, 0)
        .exists(!_.fieldNames.contains("o_channel")),
        "v0's schema grew a ghost column")
      val v0 = SnapshotTable.read(s, root, 0)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
        .withColumn("n_chan", lit(null).cast("bigint"))
        .withColumn("n_web", lit(null).cast("bigint"))
        .withColumn("version", lit("v0"))
      val v1 = SnapshotTable.read(s, root, 1)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"),
          count(col("o_channel")).as("n_chan"),
          count(when(col("o_channel") === "web", 1)).as("n_web"))
        .withColumn("version", lit("v1"))
      v0.unionByName(v1)
        .select("version", "pt_year", "cnt", "n_keys", "total",
          "n_chan", "n_web")
    }),

    // WAP × DRIFT AUDIT — the full ingest-quality loop in one oracled
    // pipeline (write_wap_publish supplies the staging mechanics;
    // stats_drift_chi2 supplies the monitor): a batch stages on a
    // branch main cannot see, the chi-square drift audit compares the
    // STAGED partition's value distribution against the frozen
    // reference histogram (v0's 1997 partition, integral-valued price
    // grid — the cross-engine exactness contract), and the branch
    // publishes or is abandoned ON THE FLAG. Both arms run: a clean
    // attribute-fix batch (same keys, same prices, re-attributed
    // custkeys — price distribution untouched) passes and publishes;
    // a mass-shifted reprice batch (+1e6, all mass clamps into the top
    // bin) flags and is abandoned. The oracle recomputes BOTH chi2
    // values (ordered fold, hash-exact) and proves head ends exactly
    // at the published clean version — sum_cust is the column that
    // distinguishes v1 from v0, total/cnt/n_keys prove the reprice
    // never landed. At 100 TB: audit cost = two ≤ bins-row histogram
    // exchanges over ONE staged partition; publish = a rename; a
    // flagged batch costs its staging only.
    "write_wap_drift_gate" -> ((s, d) => {
      val bins = AdvancedOps.PCTL_SKETCH_BINS
      val root = scratch("wap_drift_tbl")
      SnapshotTable.deleteTree(root) // fresh lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base, years)
      // frozen reference: v0's 1997 partition on the integral price grid
      val priceI = floor(col("o_totalprice")).cast("double")
      val ref97 = SnapshotTable.read(s, root, 0)
        .filter(col("pt_year") === 1997)
        .select(col("pt_year"), priceI.as("p"))
      val mmr = ref97.agg(min("p"), max("p")).head
      val (mn, mx) = (mmr.getDouble(0), mmr.getDouble(1))
      val refH = AdvancedOps.histogramOf(ref97, "pt_year", "p",
        mn, mx, bins, clamp = true).withColumnRenamed("cnt", "r")
      def audit(branch: String): (Double, Boolean) = {
        val obsH = AdvancedOps.histogramOf(
          SnapshotTable.readBranch(s, root, branch)
            .filter(col("pt_year") === 1997)
            .select(col("pt_year"), priceI.as("p")),
          "pt_year", "p", mn, mx, bins, clamp = true)
          .withColumnRenamed("cnt", "o")
        val frame = s.range(1).select(lit(1997).as("pt_year"))
          .withColumn("bin", explode(sequence(lit(0L), lit(bins - 1L))))
        val joined = frame
          .join(refH, Seq("pt_year", "bin"), "left")
          .join(obsH, Seq("pt_year", "bin"), "left")
          .na.fill(0L, Seq("r", "o"))
        val row = AdvancedOps.chi2Of(s, joined, "pt_year", bins).head
        (row.getDouble(row.fieldIndex("chi2")),
          row.getBoolean(row.fieldIndex("drifted")))
      }
      // arm 1: clean attribute fix — stages, passes the audit, publishes
      val clean = SnapshotTable.read(s, root, 0)
        .filter(col("pt_year") === 1997)
        .withColumn("o_custkey", col("o_custkey") + 1)
      SnapshotTable.stageCommit(s, root, "attr-fix", clean, Seq(1997))
      val (chi2c, dc) = audit("attr-fix")
      require(!dc, "the clean attribute-fix batch flagged the drift audit")
      val v1 = SnapshotTable.publishBranch(root, "attr-fix")
      // arm 2: mass-shifted reprice — stages, FLAGS, is abandoned
      val bad = SnapshotTable.read(s, root, v1)
        .filter(col("pt_year") === 1997)
        .withColumn("o_totalprice", col("o_totalprice") + 1000000.0)
      SnapshotTable.stageCommit(s, root, "reprice", bad, Seq(1997))
      val (chi2d, dd) = audit("reprice")
      require(dd, "the +1e6 reprice batch passed the drift audit")
      SnapshotTable.abandonBranch(root, "reprice")
      val head = SnapshotTable.versions(root).max
      def snap(v: Int, label: String) = SnapshotTable.read(s, root, v)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"),
          sum(col("o_custkey")).as("sum_cust"))
        .withColumn("version", lit(label))
        .withColumn("chi2", lit(null).cast("double"))
        .withColumn("drifted", lit(null).cast("boolean"))
      val auditDf = Seq(("audit_clean", chi2c, dc),
          ("audit_drifted", chi2d, dd))
        .map { case (l, c, f) =>
          s.range(1).select(lit(l).as("version"),
            lit(1997).as("pt_year"),
            lit(null).cast("bigint").as("cnt"),
            lit(null).cast("bigint").as("n_keys"),
            lit(null).cast("double").as("total"),
            lit(null).cast("bigint").as("sum_cust"),
            lit(c).as("chi2"), lit(f).as("drifted"))
        }.reduce(_ unionByName _)
      snap(0, "v0").unionByName(snap(v1, "v1_published"))
        .unionByName(snap(head, "head_post_abandon"))
        .unionByName(auditDf)
        .select("version", "pt_year", "cnt", "n_keys", "total",
          "sum_cust", "chi2", "drifted")
    }),

    // APPLY CHANGES (see applyChanges): the op-labeled CDC feed merged
    // into the table in one pass — updates win over stay rows, inserts
    // land, tombstoned keys vanish, and only the feed's partitions are
    // rewritten. The read-back aggregate catches a leaked tombstone, a
    // dropped stay row, or an update applied to the wrong partition.
    "write_apply_changes" -> ((s, d) => {
      val base = scratch("apply_chg_tbl")
      upsertLoad(s, d, base)
      applyChanges(s, base, scratch("apply_chg_stage"), changeFeed(s, d))
      s.read.parquet(base)
        .groupBy("pt_year")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
    }),

    // OPTIMIZE under time travel (see SnapshotTable.optimize): v0 is
    // committed FRAGMENTED (a 32-task exchange leaves ~32 small files
    // per partition), the optimize commit rewrites each fragmented
    // partition to one right-sized file as v1, and BOTH versions read
    // back identical per-partition aggregates — the data-unchanged
    // contract is exactly what the oracle verifies (one aggregate from
    // the source, labeled twice). OptimizeSnapshotSpec adds what the
    // hash can't: the v0→v1 change feed is EMPTY, v0's files survive
    // until vacuum and vacuum reclaims precisely them, file counts
    // actually drop, and a second optimize is a no-op.
    "write_optimize_snapshot" -> ((s, d) => {
      val root = scratch("optimize_tbl")
      SnapshotTable.deleteTree(root) // fresh lineage per invocation
      val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
      val years = base.select("pt_year").distinct()
        .collect().map(_.getInt(0)).sorted
      SnapshotTable.commit(s, root, 0, base.repartition(32), years,
        distribute = false)
      SnapshotTable.optimize(s, root, 1)
      def snap(v: Int) = SnapshotTable.read(s, root, v)
        .groupBy("pt_year").agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("o_totalprice").as("total"))
        .withColumn("version", lit(s"v$v"))
      snap(0).unionByName(snap(1))
        .select("version", "pt_year", "cnt", "n_keys", "total")
    }),

    // CHANGE DATA FEED over the snapshot lineage (see tableChanges):
    // v0→v1 is the 1997 upsert (every 1997 row updated, the +1e8 keys
    // inserted), v1→v2 the 1996 merge-delete. The gate aggregates the
    // emitted change rows per (transition, change_type); a leaked
    // unchanged row, a missed insert, or wrong pre/post images all move
    // the counts or the price totals and hash-fail. The 1996 rows NOT
    // deleted sit in a rewritten partition with identical content —
    // their absence from the feed is the changes-only contract.
    "read_table_changes" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // the measured operator is the CHANGE FEED READ — production CDF
      // consumers read a long-lived table's lineage, they don't commit
      // it per query (write_time_travel measures committing). The
      // 3-version lineage builds once per (JVM, sfDir), deterministic
      // bytes; re-invocations pay only the manifest diff + pruned reads
      val root = cdfSetup.getOrElseUpdate(d, {
        val r = scratch(s"cdf_tbl_${Integer.toHexString(d.hashCode)}")
        SnapshotTable.deleteTree(r) // fresh lineage for this JVM
        val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), year(col("o_orderdate")).as("pt_year"))
        val years = base.select("pt_year").distinct()
          .collect().map(_.getInt(0)).sorted
        SnapshotTable.commit(s, r, 0, base, years)
        val merged1 = upsertBatch(s, d).withColumn("src", lit(1))
          .unionByName(SnapshotTable.read(s, r, 0)
            .filter(col("pt_year") === 1997).withColumn("src", lit(0)))
          .withColumn("rn", row_number().over(
            Window.partitionBy("o_orderkey").orderBy(col("src").desc)))
          .filter(col("rn") === 1).drop("rn", "src")
        SnapshotTable.commit(s, r, 1, merged1, Seq(1997))
        val kept96 = SnapshotTable.read(s, r, 1)
          .filter(col("pt_year") === 1996 &&
            !(col("o_orderkey") % 10 === 3))
        SnapshotTable.commit(s, r, 2, kept96, Seq(1996))
        r
      })
      tableChanges(s, root, 0, 1).withColumn("transition", lit("v0_v1"))
        .unionByName(
          tableChanges(s, root, 1, 2).withColumn("transition", lit("v1_v2")))
        .groupBy("transition", "change_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          decSum("price").as("total"))
    }),

    // SCD2 historization across TWO change batches (see scd2Merge's
    // scaladoc): history accumulates closed versions by append, the
    // current partition is rewritten, and the read-back groups by the
    // full validity interval.
    "write_scd2" -> ((s, d) => {
      val base = scratch("scd2_tbl")
      val stage = scratch("scd2_stage")
      scd2Load(s, d, base)
      scd2Merge(s, d, base, stage, v = 1)
      scd2Merge(s, d, base, stage, v = 2)
      s.read.parquet(base)
        // partition inference leaves booleans as strings — cast back
        .withColumn("is_current", col("is_current").cast("boolean"))
        .groupBy("is_current", "valid_from", "valid_to")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("c_custkey")).as("n_keys"),
          decSum("c_acctbal").as("total"))
    }),

    // POINT-IN-TIME JOIN against the SCD2 dimension — the correctness
    // trap every warehouse hits: joining facts to a dimension's CURRENT
    // row silently rewrites history; the right join picks the version
    // whose [valid_from, valid_to) interval contains the fact's event
    // time. Build the dim with two scd2 merges, stamp each order with an
    // event version, and join on the equi key + interval residual. Plan
    // shape: the dim (≤ a few versions per key) broadcasts, so the fact
    // side streams map-side with no shuffle — at 100 TB the facts never
    // move; only the final bounded rollup exchanges. Each key's
    // intervals tile [0, 9999), so every fact matches EXACTLY one
    // version (PitScd2Spec proves it) — a dropped or doubled fact here
    // is the bug this operator exists to prevent.
    "join_pit_scd2" -> ((s, d) => {
      // the SCD2 dim is a durable table a PIT join queries, not part of
      // the join itself (write_scd2 measures the historization); build
      // it once per (JVM, sfDir) like the bucketed-join setup — the
      // deterministic 3-step build yields identical bytes every time
      val base = pitScd2Setup.getOrElseUpdate(d, {
        val b = scratch(s"pit_scd2_tbl_${Integer.toHexString(d.hashCode)}")
        val stage =
          scratch(s"pit_scd2_stage_${Integer.toHexString(d.hashCode)}")
        scd2Load(s, d, b)
        scd2Merge(s, d, b, stage, v = 1)
        scd2Merge(s, d, b, stage, v = 2)
        b
      })
      val dim = s.read.parquet(base)
        .select(col("c_custkey"), col("c_acctbal"),
          col("valid_from"), col("valid_to"))
      val facts = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 3).cast("int").as("event_v"))
      facts.join(broadcast(dim),
          facts("o_custkey") === dim("c_custkey") &&
          col("event_v") >= col("valid_from") &&
          col("event_v") < col("valid_to"))
        .groupBy("event_v", "valid_from", "valid_to")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_custkey")).as("n_keys"),
          decSum("c_acctbal").as("total_bal"))
    }),

    // SaveMode append semantics (reference base.py:143-145): overwrite one
    // slice, append a second, read back the union.
    "save_append" -> ((s, d) => {
      val base = scratch("append_tbl")
      val o = orders(s, d)
      o.filter(col("o_orderstatus") === "F")
        .write.mode(SaveMode.Overwrite).parquet(base)
      o.filter(col("o_orderstatus") === "O")
        .write.mode(SaveMode.Append).parquet(base)
      s.read.parquet(base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), decSum("o_totalprice").as("total"))
    }),

    // Single-file CSV export (reference funcs_spark.py:68-71:
    // repartition(1).write header=true). Read back with explicit schema.
    "write_csv_single" -> ((s, d) => {
      val base = scratch("csv_out")
      nation(s, d).repartition(1)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(base)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(base)
    }),

    // Partitioning control (reference funcs_spark.py:38-57). No oracle —
    // the observable is the partition count, a plan-level property.
    "repartition_coalesce" -> ((s, d) => {
      val df = orders(s, d).repartition(8, col("o_custkey")).coalesce(4)
      val n = df.rdd.getNumPartitions
      df.groupBy(spark_partition_id().as("part_id"))
        .agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_parts_used"),
             sum("cnt").as("total_rows"))
        .withColumn("n_partitions", lit(n))
    }),

    // cache/unpersist lifecycle (reference spark.py:131-134,
    // funcs_spark.py:161-166).
    "cache_unpersist" -> ((s, d) => {
      val v = "g_cache_t"
      nation(s, d).createOrReplaceTempView(v)
      s.catalog.cacheTable(v)
      val n = s.table(v).count() // materialize the cache
      s.catalog.uncacheTable(v)
      nation(s, d).agg(count(lit(1)).as("cnt"))
        .withColumn("cached_count", lit(n))
    })
  )

  val oracles: Map[String, String] = Map(
    "write_zordered" -> {
      val z = (0 until 16).map(i =>
        s"(((l_partkey >> $i) & 1) << ${2 * i}) + " +
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"
      ).mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         cast($z as bigint) AS zval
         FROM lineitem"""
    },
    "write_range_sorted" ->
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem",
    "insert_overwrite_static_pt" ->
      """SELECT o_orderpriority, count(*) AS cnt,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""",
    "insert_dynamic_pt" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
         FROM orders GROUP BY o_orderstatus""",
    "bucketed_join_colocated" ->
      """SELECT c_mktsegment, count(*) AS n_ord,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "scan_csv_json" ->
      """SELECT n_nationkey, n_name, r_name AS region_name
         FROM nation JOIN region ON n_regionkey = r_regionkey""",

    // the round trip is invisible to values: plain orders aggregate
    "scan_orc" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",
    // predicts the PERMISSIVE outcome from the corruption contract:
    // corrupt rows parse nothing (sums NULL), good rows parse exactly
    "scan_json_corrupt" ->
      """WITH g AS (SELECT doc_id, n_chars, doc_id % 50 = 0 AS is_corrupt
                    FROM documents)
         SELECT is_corrupt, cast(count(*) AS bigint) AS cnt,
           CASE WHEN is_corrupt THEN NULL
                ELSE cast(sum(doc_id) AS bigint) END AS sum_ids,
           CASE WHEN is_corrupt THEN NULL
                ELSE cast(sum(n_chars) AS bigint) END AS sum_chars
         FROM g GROUP BY is_corrupt""",
    "write_compacted" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         count(DISTINCT o_orderkey) AS n_keys,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
         FROM orders GROUP BY o_orderstatus""",
    // the incremental merge must equal aggregating all history from
    // scratch — exact decimal sums, avg as one IEEE division
    "write_incremental_agg" ->
      """SELECT o_custkey, cast(count(*) AS bigint) AS n_orders,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           / cast(count(*) AS double) AS avg_price
         FROM orders WHERE year(o_orderdate) <= 1997
         GROUP BY o_custkey""",

    // the streaming twin merges the same batch through the same monoid —
    // identical final state, identical oracle
    "streaming_ingest_agg" ->
      """SELECT o_custkey, cast(count(*) AS bigint) AS n_orders,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           / cast(count(*) AS double) AS avg_price
         FROM orders WHERE year(o_orderdate) <= 1997
         GROUP BY o_custkey""",

    // the pruned scan must lose nothing: the oracle is the plain
    // predicate over the source table — file-level skipping is
    // invisible to results, visible only to IO (DataSkippingSpec)
    "write_skipping_scan" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders WHERE o_custkey BETWEEN 100 AND 400
         GROUP BY 1""",

    // v0 = t, v1 = head = the upsert applied — time travel readable in
    // plain SQL through the catalog
    "sql_version_asof" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd),
         lab AS (
           SELECT 'v0' AS version, * FROM t
           UNION ALL SELECT 'v1', * FROM v1
           UNION ALL SELECT 'head', * FROM v1)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // the clone's merge cannot move the source: source_head == clone_v0
    // == t, clone_v1 == the upsert applied (write_time_travel's v1)
    "write_shallow_clone" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd),
         lab AS (
           SELECT 'source_head' AS version, * FROM t
           UNION ALL SELECT 'clone_v0', * FROM t
           UNION ALL SELECT 'clone_v1', * FROM v1)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // logical (DV-applied read) == physical (post-rewrite) == the
    // plain anti-filter; v0 time-travels intact
    "write_delete_vectors" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         vdel AS (
           SELECT * FROM t
           WHERE NOT (pt_year = 1996 AND o_orderkey % 10 = 3)),
         lab AS (
           SELECT 'v0' AS version, * FROM t
           UNION ALL SELECT 'v1_logical', * FROM vdel
           UNION ALL SELECT 'v2_physical', * FROM vdel)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // silver ends holding the enriched full table, so the oracle is
    // the enrichment applied to orders directly (floor on a double is
    // the same IEEE op in both engines)
    "streaming_pipeline_snapshot" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year,
             cast(floor(o_totalprice / 50000) AS int) AS price_band
           FROM orders)
         SELECT pt_year, price_band, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM t GROUP BY 1, 2""",

    // the drained stream reconstructs the whole table (append-shaped
    // version history), so the oracle is the plain orders aggregate
    "streaming_source_snapshot" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // the CTAS result re-aggregated per year equals the same rollup
    // computed from orders directly
    "sql_ctas_snapshot" ->
      """WITH r AS (
           SELECT o_custkey, cast(year(o_orderdate) AS int) AS pt_year,
             count(*) AS n_orders,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
               AS total
           FROM orders GROUP BY o_custkey, 2)
         SELECT pt_year, cast(count(*) AS bigint) AS n_rows,
           cast(sum(n_orders) AS bigint) AS n_orders,
           cast(sum(cast(total AS decimal(18,2))) AS double) AS total
         FROM r GROUP BY pt_year""",

    // the drained native sink rebuilds the full orders projection
    "streaming_native_sink" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // head = the anti-filter; v0 = the intact original (time travel)
    "sql_delete_snapshot" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         kept AS (SELECT * FROM t
           WHERE NOT (pt_year = 1996 AND o_custkey <= 500)),
         lab AS (
           SELECT 'head' AS version, * FROM kept
           UNION ALL SELECT 'v0', * FROM t)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // head = the 1996/custkey<=500 rows bumped by +1.0 (exact in
    // double); v0 = the intact original (time travel)
    "sql_update_snapshot" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (SELECT o_orderkey, o_custkey,
             CASE WHEN pt_year = 1996 AND o_custkey <= 500
               THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice, pt_year FROM t),
         lab AS (
           SELECT 'head' AS version, * FROM upd
           UNION ALL SELECT 'v0', * FROM t)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // merge-on-read twin: tombstone+append deltas must serve exactly
    // the rows a plain UPDATE-then-DELETE computes
    "sql_update_mor" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 5.0
               ELSE o_totalprice END AS o_totalprice, pt_year
           FROM t WHERE o_orderkey % 100 <> 7)
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM upd GROUP BY pt_year""",

    // the bloom probe key is min(o_orderkey ≡ 11 mod 97) — the gate
    // inlines it as a literal (so the eq pushes), the oracle derives
    // it as a scalar subquery; same value, same single-key result
    "scan_bloom_point" ->
      """WITH probe AS (SELECT min(o_orderkey) AS k FROM orders
             WHERE o_orderkey % 97 = 11)
         SELECT o_orderkey, o_custkey,
           cast(year(o_orderdate) AS int) AS pt_year,
           cast(cast(o_totalprice AS decimal(18,2)) AS double) AS price
         FROM orders, probe WHERE o_orderkey = probe.k""",

    // head = matched updates (+10.0, keys ≡1 mod 10), matched deletes
    // (keys ≡2), and the not-matched inserts (negated keys ≡3 landing
    // in 2030); v0 = the intact original
    "sql_merge_snapshot" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         merged AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 10.0
               ELSE o_totalprice END AS o_totalprice, pt_year
           FROM t WHERE o_orderkey % 10 <> 2
           UNION ALL
           SELECT -o_orderkey, o_custkey, o_totalprice, 2030
           FROM t WHERE o_orderkey % 10 = 3),
         lab AS (
           SELECT 'head' AS version, * FROM merged
           UNION ALL SELECT 'v0', * FROM t)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // head = 1996 overwritten with the +5.0 slice, all other years
    // untouched; v0 = the intact original
    "sql_overwrite_partition" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         ovw AS (SELECT o_orderkey, o_custkey,
             CASE WHEN pt_year = 1996 THEN o_totalprice + 5.0
               ELSE o_totalprice END AS o_totalprice, pt_year FROM t),
         lab AS (
           SELECT 'head' AS version, * FROM ovw
           UNION ALL SELECT 'v0', * FROM t)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // the pushed count equals the table's cardinality exactly
    "scan_count_meta" ->
      """SELECT cast(count(*) AS bigint) AS cnt FROM orders""",

    // manifest-stats MIN/MAX (exact footer bounds) + the
    // partition-scoped twin answered from one partition's manifest
    "scan_minmax_meta" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders)
         SELECT 'all' AS scope,
           cast(min(o_orderkey) AS bigint) AS k_lo,
           cast(max(o_orderkey) AS bigint) AS k_hi,
           cast(min(o_totalprice) AS double) AS p_lo,
           cast(max(o_totalprice) AS double) AS p_hi,
           cast(count(*) AS bigint) AS cnt,
           cast(count(o_custkey) AS bigint) AS cnt_ck
         FROM t
         UNION ALL
         SELECT 'y1995',
           cast(min(o_orderkey) AS bigint),
           cast(max(o_orderkey) AS bigint),
           cast(min(o_totalprice) AS double),
           cast(max(o_totalprice) AS double),
           cast(count(*) AS bigint),
           cast(count(o_custkey) AS bigint)
         FROM t WHERE pt_year = 1995""",

    // the star join's pruning is an optimization only: the joined,
    // re-filtered aggregate must equal the plain SQL twin exactly
    "join_dpp_snapshot" ->
      """WITH f AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         dim AS (SELECT cast(year(o_orderdate) AS int) AS pt_year,
             min(cast(o_orderdate AS date)) AS first_day
           FROM orders GROUP BY 1)
         SELECT f.pt_year, cast(count(*) AS bigint) AS cnt,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM f JOIN dim ON f.pt_year = dim.pt_year
         WHERE dim.first_day >= DATE '1996-01-01'
         GROUP BY 1""",

    // pre-rename files (footers say `ck`) and post-rename files
    // (footers say `buyer`) aggregate identically under one schema;
    // the dropped junk_date is invisible
    "sql_alter_rename" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(sum(o_custkey) AS bigint) AS sum_buyer,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // pre-widen int32 files and post-widen int64 files under one
    // bigint schema sum exactly
    "sql_alter_widen" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(sum(cast(o_custkey AS bigint)) AS bigint) AS sum_ck,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // head = the restored pre-delete projection (optimize + restore +
    // vacuum change no data); v2 = the post-delete state; the three
    // CALL summary rows carry deterministic version/rewrite counts
    "sql_call_procedures" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         kept AS (SELECT * FROM t
           WHERE NOT (pt_year = 1996 AND o_custkey <= 500)),
         lab AS (
           SELECT 'head' AS version, * FROM t
           UNION ALL SELECT 'v2', * FROM kept)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year
         UNION ALL
         SELECT 'call_optimize', cast(1 AS int),
           (SELECT cast(count(DISTINCT year(o_orderdate)) AS bigint)
              FROM orders),
           cast(0 AS bigint), cast(0.0 AS double)
         UNION ALL
         SELECT 'call_restore', cast(3 AS int), cast(1 AS bigint),
           cast(0 AS bigint), cast(0.0 AS double)
         UNION ALL
         SELECT 'call_vacuum', cast(3 AS int), cast(2 AS bigint),
           cast(0 AS bigint), cast(0.0 AS double)""",

    // partitions/files both read 1 file per year at the optimized
    // head; history reads n_partitions = the year count for v0 and v1
    "sql_metadata_tables" ->
      """WITH y AS (SELECT DISTINCT cast(year(o_orderdate) AS int)
             AS pt_year FROM orders),
         n AS (SELECT cast(count(*) AS bigint) AS nyears FROM y)
         SELECT 'partitions' AS version, pt_year,
           cast(1 AS bigint) AS cnt, cast(0 AS bigint) AS n_keys,
           cast(0.0 AS double) AS total FROM y
         UNION ALL
         SELECT 'files', pt_year, cast(1 AS bigint), cast(0 AS bigint),
           cast(0.0 AS double) FROM y
         UNION ALL
         SELECT 'history', cast(0 AS int), (SELECT nyears FROM n),
           cast(0 AS bigint), cast(0.0 AS double)
         UNION ALL
         SELECT 'history', cast(1 AS int), (SELECT nyears FROM n),
           cast(0 AS bigint), cast(0.0 AS double)""",

    // the append restores exactly the missing 1997 slice, so the head
    // equals the plain orders table
    "sql_insert_snapshot" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // pacing must not change the landed table: the rate-limited drain
    // reconstructs the same whole table, one version per micro-batch
    "streaming_source_ratelimit" ->
      """SELECT cast(year(o_orderdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
           AS total
         FROM orders GROUP BY 1""",

    // v1 = the bad 1997 load (write_time_travel's v1 algebra); the
    // restored head equals the original table exactly
    "write_restore" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd),
         lab AS (
           SELECT 'v1_bad' AS version, * FROM v1
           UNION ALL SELECT 'v2_restored', * FROM t)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",

    // skipping is invisible to results: plain conjunctive predicate
    "write_zorder_scan" ->
      """SELECT cast(year(l_shipdate) AS int) AS pt_year,
         cast(count(*) AS bigint) AS cnt,
         cast(count(DISTINCT l_orderkey) AS bigint) AS n_keys,
         cast(sum(cast(l_quantity AS decimal(18,2))) AS double)
           AS total_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 10 AND 60 AND l_suppkey BETWEEN 2 AND 5
         GROUP BY 1""",

    // the stream lands the same v1 state the one-shot upsert commit
    // produces (write_time_travel's v1 shape) — batch-split-invariant
    // by key disjointness, exactly-once by the manifest txn guard
    "streaming_ingest_snapshot" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd)
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM v1 GROUP BY pt_year""",

    // the dim reconstructed as interval rows (same version algebra as
    // the write_scd2 oracle), facts joined to the version containing
    // their event time
    "join_pit_scd2" ->
      """WITH c AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
         ch AS (SELECT * FROM c WHERE k % 7 = 0),
         rws AS (
           SELECT k, bal, cast(0 AS int) AS valid_from,
             cast(9999 AS int) AS valid_to FROM c WHERE k % 7 <> 0
           UNION ALL SELECT k, bal, 0, 1 FROM ch
           UNION ALL SELECT k, bal + 50.0, 1, 2 FROM ch
           UNION ALL SELECT k, bal + 100.0, 2, 9999 FROM ch
           UNION ALL SELECT k + 1000000, 10.0, 1, 9999 FROM ch),
         f AS (SELECT o_orderkey, o_custkey,
             cast(o_orderkey % 3 AS int) AS event_v FROM orders),
         j AS (SELECT f.event_v, r.valid_from, r.valid_to,
             f.o_custkey, r.bal
           FROM f JOIN rws r ON f.o_custkey = r.k
            AND f.event_v >= r.valid_from AND f.event_v < r.valid_to)
         SELECT event_v, valid_from, valid_to,
           cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_custkey) AS bigint) AS n_keys,
           cast(sum(cast(bal AS decimal(18,2))) AS double) AS total_bal
         FROM j GROUP BY 1, 2, 3""",

    "write_scd2" ->
      """WITH c AS (SELECT c_custkey AS k, c_nationkey AS nat,
             c_acctbal AS bal FROM customer),
         ch AS (SELECT * FROM c WHERE k % 7 = 0),
         rws AS (
           SELECT k, bal, cast(0 AS int) AS valid_from,
             cast(9999 AS int) AS valid_to, true AS is_current
           FROM c WHERE k % 7 <> 0
           UNION ALL
           SELECT k, bal, 0, 1, false FROM ch
           UNION ALL
           SELECT k, bal + 50.0, 1, 2, false FROM ch
           UNION ALL
           SELECT k, bal + 100.0, 2, 9999, true FROM ch
           UNION ALL
           SELECT k + 1000000, 10.0, 1, 9999, true FROM ch)
         SELECT is_current, valid_from, valid_to,
           cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT k) AS bigint) AS n_keys,
           cast(sum(cast(bal AS decimal(18,2))) AS double) AS total
         FROM rws GROUP BY 1, 2, 3""",
    // each version's state recomputed from orders; v2_post_vacuum is
    // BY CONTRACT identical to v2 (vacuum never touches retained files)
    // OPTIMIZE is data-unchanged BY CONTRACT: both versions aggregate
    // to the same values, straight from the source, labeled twice
    "write_optimize_snapshot" ->
      """WITH a AS (SELECT cast(year(o_orderdate) AS int) AS pt_year,
             cast(count(*) AS bigint) AS cnt,
             cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
               AS total
           FROM orders GROUP BY 1)
         SELECT 'v0' AS version, pt_year, cnt, n_keys, total FROM a
         UNION ALL
         SELECT 'v1', pt_year, cnt, n_keys, total FROM a""",
    // head_post_abandon deliberately re-labels v1's rows: the abandoned
    // branch must leave main EXACTLY at the published version
    "write_wap_publish" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd),
         lab AS (
           SELECT 'v0' AS version, * FROM t
           UNION ALL SELECT 'v1_published', * FROM v1
           UNION ALL SELECT 'head_post_abandon', * FROM v1)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",
    "write_time_travel" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         v1 AS (
           SELECT * FROM t WHERE pt_year <> 1997
           UNION ALL SELECT * FROM upd),
         v2 AS (
           SELECT * FROM v1
           WHERE NOT (pt_year = 1996 AND o_orderkey % 10 = 3)),
         lab AS (
           SELECT 'v0' AS version, * FROM t
           UNION ALL SELECT 'v1', * FROM v1
           UNION ALL SELECT 'v2', * FROM v2
           UNION ALL SELECT 'v2_post_vacuum', * FROM v2)
         SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM lab GROUP BY version, pt_year""",
    // v0 reads through its own recorded schema (no channel column —
    // NULL counts); v1's carried partitions null-fill the new column
    // (n_chan 0), the evolved 1997 partition carries it on every row
    "write_snapshot_evolve" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         v1 AS (
           SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
             pt_year, 'web' AS o_channel
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey, o_totalprice, pt_year,
             cast(NULL AS varchar)
           FROM t WHERE pt_year <> 1997)
         SELECT 'v0' AS version, pt_year,
           cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total,
           cast(NULL AS bigint) AS n_chan, cast(NULL AS bigint) AS n_web
         FROM t GROUP BY pt_year
         UNION ALL
         SELECT 'v1', pt_year, cast(count(*) AS bigint),
           cast(count(DISTINCT o_orderkey) AS bigint),
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double),
           cast(count(o_channel) AS bigint),
           cast(count(CASE WHEN o_channel = 'web' THEN 1 END) AS bigint)
         FROM v1 GROUP BY pt_year""",
    // both chi2 values recomputed on the same frozen integral-price
    // grid (ordered fold — hash-exact, the stats_drift_chi2
    // discipline); head must end exactly at the published clean
    // version: sum_cust distinguishes v1 from v0 (the attribute fix),
    // total/cnt/n_keys prove the abandoned reprice never landed
    "write_wap_drift_gate" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         t97 AS (SELECT * FROM t WHERE pt_year = 1997),
         mm AS (SELECT min(floor(o_totalprice)) AS mn,
                       max(floor(o_totalprice)) AS mx FROM t97),
         ref AS (SELECT least(63, greatest(0,
               cast(floor((floor(o_totalprice) - mn) * 64.0
                 / (mx - mn + 1)) AS bigint))) AS bin,
             count(*) AS r
           FROM t97, mm GROUP BY 1),
         obsd AS (SELECT least(63, greatest(0,
               cast(floor((floor(o_totalprice + 1000000.0) - mn) * 64.0
                 / (mx - mn + 1)) AS bigint))) AS bin,
             count(*) AS o
           FROM t97, mm GROUP BY 1),
         frame AS (SELECT i AS bin FROM range(0, 64) t(i)),
         h AS (
           SELECT 'audit_clean' AS version, f.bin,
             coalesce(r.r, 0) AS r, coalesce(r.r, 0) AS o
           FROM frame f LEFT JOIN ref r ON f.bin = r.bin
           UNION ALL
           SELECT 'audit_drifted', f.bin,
             coalesce(r.r, 0), coalesce(o.o, 0)
           FROM frame f LEFT JOIN ref r ON f.bin = r.bin
                        LEFT JOIN obsd o ON f.bin = o.bin),
         tot AS (SELECT version, sum(r) AS n_ref, sum(o) AS n_obs
           FROM h GROUP BY version),
         terms AS (SELECT h.version, h.bin,
             cast(t.n_obs AS double) *
               (cast(h.r + 1 AS double) / cast(t.n_ref + 64 AS double))
               AS e,
             cast(h.o AS double) AS od
           FROM h JOIN tot t ON h.version = t.version),
         folded AS (SELECT version,
             list_aggregate(
               list(CASE WHEN e = cast(0 AS double)
                 THEN cast(0 AS double)
                 ELSE (od - e) * (od - e) / e END ORDER BY bin),
               'sum') AS chi2
           FROM terms GROUP BY version),
         auditrows AS (SELECT version, 1997 AS pt_year,
             cast(NULL AS bigint) AS cnt, cast(NULL AS bigint) AS n_keys,
             cast(NULL AS double) AS total,
             cast(NULL AS bigint) AS sum_cust,
             chi2, chi2 > cast(103.0 AS double) AS drifted
           FROM folded),
         v1 AS (
           SELECT o_orderkey, o_custkey + 1 AS o_custkey, o_totalprice,
             pt_year FROM t97
           UNION ALL
           SELECT * FROM t WHERE pt_year <> 1997),
         lab AS (
           SELECT 'v0' AS version, * FROM t
           UNION ALL SELECT 'v1_published', * FROM v1
           UNION ALL SELECT 'head_post_abandon', * FROM v1),
         staterows AS (
           SELECT version, pt_year, cast(count(*) AS bigint) AS cnt,
             cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
               AS total,
             cast(sum(o_custkey) AS bigint) AS sum_cust,
             cast(NULL AS double) AS chi2,
             cast(NULL AS boolean) AS drifted
           FROM lab GROUP BY version, pt_year)
         SELECT * FROM staterows UNION ALL SELECT * FROM auditrows""",
    // the stream applies the SAME feed batch-split-invariantly (key
    // disjointness — see streamingApplyChanges), so the batch gate's
    // oracle verifies it unchanged
    "streaming_ingest_apply" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         fin AS (
           SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
             pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, 1.0, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey, o_totalprice, pt_year FROM t
           WHERE pt_year <> 1997
             AND NOT (pt_year = 1996 AND o_orderkey % 10 = 3))
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM fin GROUP BY pt_year""",
    // final table state recomputed from orders: 1997 replaced by the
    // update+insert images, the 1996 tombstoned keys gone, all other
    // years untouched
    "write_apply_changes" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         fin AS (
           SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
             pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, 1.0, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey, o_totalprice, pt_year FROM t
           WHERE pt_year <> 1997
             AND NOT (pt_year = 1996 AND o_orderkey % 10 = 3))
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM fin GROUP BY pt_year""",
    // change rows recomputed from orders: the v0→v1 upsert updates every
    // 1997 row (+100) and inserts the +1e8 keys; the v1→v2 merge-delete
    // removes the 1996 keys ≡ 3 mod 10. Unchanged 1996 rows emit nothing.
    "read_table_changes" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         t97 AS (SELECT * FROM t WHERE pt_year = 1997),
         ch AS (
           SELECT 'v0_v1' AS transition, 'insert' AS change_type,
             o_orderkey + 100000000 AS k, cast(1.0 AS double) AS price
           FROM t97
           UNION ALL
           SELECT 'v0_v1', 'update_preimage', o_orderkey, o_totalprice
           FROM t97
           UNION ALL
           SELECT 'v0_v1', 'update_postimage', o_orderkey,
             o_totalprice + 100.0
           FROM t97
           UNION ALL
           SELECT 'v1_v2', 'delete', o_orderkey, o_totalprice
           FROM t WHERE pt_year = 1996 AND o_orderkey % 10 = 3)
         SELECT transition, change_type,
           cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT k) AS bigint) AS n_keys,
           cast(sum(cast(price AS decimal(18,2))) AS double) AS total
         FROM ch GROUP BY 1, 2""",
    "write_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year
           FROM t WHERE pt_year = 1997),
         fin AS (
           SELECT * FROM t
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total
         FROM fin GROUP BY pt_year""",
    "write_upsert_evolve" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
             cast(year(o_orderdate) AS int) AS pt_year FROM orders),
         upd AS (
           SELECT o_orderkey, o_custkey,
             o_totalprice + 100.0 AS o_totalprice, pt_year,
             'web' AS o_channel
           FROM t WHERE pt_year = 1997
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 1.0, pt_year,
             'bulk'
           FROM t WHERE pt_year = 1997),
         fin AS (
           SELECT o_orderkey, o_custkey, o_totalprice, pt_year,
             cast(NULL AS varchar) AS o_channel
           FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
         SELECT pt_year, cast(count(*) AS bigint) AS cnt,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
             AS total,
           cast(count(o_channel) AS bigint) AS n_chan,
           cast(count(CASE WHEN o_channel = 'web' THEN 1 END) AS bigint)
             AS n_web,
           cast(count(CASE WHEN o_channel = 'bulk' THEN 1 END) AS bigint)
             AS n_bulk
         FROM fin GROUP BY pt_year""",
    "save_append" ->
      """SELECT o_orderstatus, count(*) AS cnt,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
         FROM orders WHERE o_orderstatus IN ('F','O')
         GROUP BY o_orderstatus""",
    "write_csv_single" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"
    // repartition_coalesce / cache_unpersist: plan-level, rows-only check.
  )
}

