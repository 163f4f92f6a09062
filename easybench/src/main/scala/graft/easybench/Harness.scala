package graft.easybench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.backend.SparkBackend
import graft.etl.SqlProcessor
import graft.operators.WriteOps.SnapshotTable

/** One op's record. Times are `Clock` epoch milliseconds. */
final class OpRec(val i: Int, val kind: String, val table: String) {
  var t0, t1 = 0.0
  var ok = true
  var err: String = null
  var traced = false
  var steps = 0
  var rows: Seq[Seq[String]] = Nil
  var gcMs = 0L
  var cpuMs = 0.0
  var fs: Seq[Long] = Nil
  var bytesRead, bytesWritten = 0L
  // table ops: the head after a commit, read back outside the op
  var head = -1
  var nVersions = -1
  var liveFiles = -1
  var manifestMs = 0.0

  def json: String = {
    val rs = rows.map(_.map(Json.str).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"i": $i, "kind": ${Json.str(kind)}, "table": ${Json.str(table)}, """ +
    s""""t0": ${Json.num(t0)}, "t1": ${Json.num(t1)}, "ok": $ok, """ +
    s""""err": ${Json.str(err)}, "traced": $traced, "steps": $steps, """ +
    s""""gc_ms": $gcMs, "cpu_ms": ${Json.num(cpuMs)}, """ +
    s""""fs": [${fs.mkString(",")}], """ +
    s""""bytes_read": $bytesRead, "bytes_written": $bytesWritten, """ +
    s""""head": $head, "n_versions": $nVersions, "live_files": $liveFiles, """ +
    s""""manifest_ms": ${Json.num(manifestMs)}, "rows": $rs}"""
  }
}

/** A workload: staged afresh for each set-up repetition, then driven one
  * op at a time by a single client thread. */
trait Workload {
  /** Builds the fixture for set-up repetition `rep` from scratch. */
  def stage(rep: Int): Unit
  /** Ops run after staging and before measuring, in every repetition. */
  def warmupOps: Int
  def hasOp(i: Int): Boolean
  /** A measured run ends only on a multiple of this many ops. */
  def groupSize: Int = 1
  def kindOf(i: Int): (String, String) = ("etl", "")
  def run(i: Int, rec: OpRec): Unit
  /** Untimed bookkeeping after an op (table heads for time travel). */
  def after(rec: OpRec): Unit = ()
  /** Writes what the checker compares, and any extra result fields. */
  def finish(out: String): String = "{}"
}

object Harness {
  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val workload = spec.get("workload").asText
    val seconds = spec.get("seconds").asDouble
    val traced = spec.get("trace").asInt == 1
    val in = spec.get("in_dir").asText
    val out = spec.get("out_dir").asText
    val cpus = spec.get("cpus").asInt
    val reps = spec.get("setup_reps").asInt

    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("easybench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "134217728")
    if (traced)
      b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionS = (Clock.now() - jvmStart) / 1000

    val tracer = new Tracer
    val w: Workload = workload match {
      case "etl_many_steps" => new ManySteps(spark, in, tracer)
      case "table_mixed" => new TableMixed(spark, in, out, tracer)
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    // set-up: the fixture is staged from scratch several times (the last
    // one is measured), then the warmup ops run once
    val repS = (0 until reps).map { r =>
      val t0 = Clock.now()
      w.stage(r)
      (Clock.now() - t0) / 1000
    }
    val warm0 = Clock.now()
    (0 until w.warmupOps).foreach { i =>
      val (k, t) = w.kindOf(i)
      val rec = new OpRec(i, k, t)
      w.run(i, rec)
      w.after(rec)
    }
    val warmupS = (Clock.now() - warm0) / 1000

    val jobs = new JobListener(tracer)
    val phases = new PhaseListener(tracer)
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      FsCounters.on = true
    }
    val ops = ArrayBuffer[OpRec]()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    // CPU time of every thread of the JVM: driver, executors, GC and JIT
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuMs(): Double = os.getProcessCpuTime / 1e6
    val loopStart = Clock.now()
    val firstOpS = (loopStart - jvmStart) / 1000
    val loopEnd = loopStart + seconds * 1000
    // A run measures whole rounds, at least two: the first round runs on
    // a colder JIT than the rest, so a run that ended after one would
    // read slower by the host's speed, not the engine's. A traced run
    // alternates rounds untraced and traced, so the overhead ratio
    // compares rounds taken at the same stage of the JIT's warm-up. A
    // counter self-check runs a fixed number of ops, all traced.
    val maxOps = spec.path("max_ops").asInt(Int.MaxValue)
    var i = w.warmupOps
    def round = (i - w.warmupOps) / w.groupSize
    def atRound = (i - w.warmupOps) % w.groupSize == 0
    def more = if (maxOps < Int.MaxValue) i - w.warmupOps < maxOps
      else Clock.now() < loopEnd || !atRound || round < 2
    while (more && w.hasOp(i)) {
      if (traced && atRound)
        tracer.enabled = maxOps < Int.MaxValue || round % 2 == 1
      val (k, t) = w.kindOf(i)
      val rec = new OpRec(i, k, t)
      rec.traced = tracer.enabled
      tracer.op = i
      if (rec.traced)
        spark.sparkContext.setJobGroup(s"op-$i", s"easybench op $i")
      val fs0 = FsCounters.snapshot()
      val (r0, w0) = FsCounters.bytes()
      val g0 = gcMs()
      val c0 = cpuMs()
      rec.t0 = Clock.now()
      try tracer.span(s"op $i", "op", s""""kind": ${Json.str(k)}""") {
        w.run(i, rec)
      }
      catch {
        case e: Throwable =>
          rec.ok = false
          rec.err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      rec.t1 = Clock.now()
      rec.cpuMs = cpuMs() - c0
      rec.gcMs = gcMs() - g0
      if (rec.traced) {
        spark.sparkContext.clearJobGroup()
        rec.fs = FsCounters.snapshot().zip(fs0).map { case (a, z) => a - z }
        val (r1, w1) = FsCounters.bytes()
        rec.bytesRead = r1 - r0
        rec.bytesWritten = w1 - w0
      }
      if (rec.ok) w.after(rec)
      ops += rec
      i += 1
    }
    val loopS = (Clock.now() - loopStart) / 1000
    tracer.enabled = false
    FsCounters.on = false
    if (traced) org.apache.spark.BenchShim.drainListeners(spark.sparkContext)

    val finish = w.finish(out)
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

    if (traced) {
      val sp = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
      try tracer.resolved.foreach { s =>
        sp.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, """ +
          s""""t0": ${Json.num(s.t0)}, "t1": ${Json.num(s.t1)}, """ +
          s""""exec": ${s.exec}""" +
          (if (s.attrs.nonEmpty) ", " + s.attrs else "") + "}")
      } finally sp.close()
      val st = new PrintWriter(new File(out, "stages.jsonl"), "UTF-8")
      try jobs.synchronized {
        jobs.stages.values.foreach { a =>
          st.println(s"""{"stage": ${a.stageId}, """ +
            s""""job": ${jobs.stageJob.getOrElse(a.stageId, -1)}, """ +
            s""""tasks": ${a.tasks}, "run_ms": ${a.runMs}, """ +
            s""""cpu_ns": ${a.cpuNs}, "gc_ms": ${a.gcMs}, """ +
            s""""in_bytes": ${a.inBytes}, "in_records": ${a.inRecords}, """ +
            s""""shuffle_read": ${a.shuffleRead}, """ +
            s""""shuffle_write": ${a.shuffleWrite}, "spill": ${a.spill}, """ +
            s""""out_bytes": ${a.outBytes}, """ +
            s""""durations": [${a.durations.mkString(",")}]}""")
        }
      } finally st.close()
    }

    val res = new PrintWriter(new File(out, "result.json"), "UTF-8")
    try res.println(
      s"""{"java_version": ${Json.str(System.getProperty("java.version"))}, """ +
      s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / (1 << 20)}, """ +
      s""""master": ${Json.str(spark.sparkContext.master)}, """ +
      s""""session_s": ${Json.num(sessionS)}, """ +
      s""""setup_reps_s": [${repS.map(Json.num).mkString(", ")}], """ +
      s""""warmup_s": ${Json.num(warmupS)}, """ +
      s""""first_op_s": ${Json.num(firstOpS)}, """ +
      s""""loop_s": ${Json.num(loopS)}, "vm_hwm_mb": ${Json.num(hwm)}, """ +
      s""""sql_execs": ${phases.execs.get}, "finish": $finish, """ +
      s""""ops": [${ops.map(_.json).mkString(",\n")}]}""")
    finally res.close()
    spark.stop()
  }

  def cells(r: Row): Seq[String] = r.toSeq.map {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case v => v.toString
  }

  def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  def dirBytes(root: File): Long =
    if (!root.exists) 0L
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum

  /** Writes each table's rows to one plain parquet file set for the
    * checker. */
  def dump(spark: SparkSession, sql: String, path: String): Unit =
    spark.sql(sql).write.mode("overwrite").parquet(path)
}

/** A generated Easy-SQL file of a few hundred small steps, run by
  * `SqlProcessor`: one op parses the file and runs every step. */
final class ManySteps(spark: SparkSession, in: String, tr: Tracer)
    extends Workload {
  private val text = Harness.read(s"$in/many_steps.sql")
  private val tables = Seq("customer", "orders", "nation")

  def stage(rep: Int): Unit = {
    spark.sql("drop database if exists bench_out cascade")
    spark.sql("drop database if exists bench_in cascade")
    spark.sql("create database bench_in")
    tables.foreach { t =>
      spark.read.parquet(s"$in/$t.parquet").write.saveAsTable(s"bench_in.$t")
    }
  }
  // the JIT keeps speeding ops up for about three ops' worth of work
  def warmupOps: Int = 3
  def hasOp(i: Int): Boolean = true

  def run(i: Int, rec: OpRec): Unit = {
    val p = tr.span("parse", "etl") {
      new SqlProcessor(new SparkBackend(spark), text)
    }
    p.stepList.foreach { st =>
      tr.span(s"step ${st.id}", "etl") { p.runStep(st, dryRun = false) }
    }
    rec.steps = p.stepList.size
  }

  override def finish(out: String): String = {
    val outs = spark.catalog.listTables("bench_out").collect()
      .filterNot(_.isTemporary).map(_.name).sorted
    outs.foreach { t =>
      Harness.dump(spark, s"select * from bench_out.$t", s"$out/check/$t")
    }
    s"""{"outputs": [${outs.map(Json.str).mkString(", ")}]}"""
  }
}

/** A seeded op log against two snapshot tables, through SQL on the
  * `SnapshotCatalog` DSv2 surface. Op `sql` text names the catalog as
  * `{cat}`; `{ver:j}` stands for the head version op `j` left behind. */
final class TableMixed(spark: SparkSession, in: String, out: String,
    tr: Tracer) extends Workload {
  private case class Op(kind: String, table: String, sql: String)
  private val ops: IndexedSeq[Op] = {
    val m = new ObjectMapper()
    Files.readAllLines(Paths.get(s"$in/ops.jsonl")).asScala
      .filter(_.trim.nonEmpty).map { l =>
        val n = m.readTree(l)
        Op(n.get("kind").asText, n.get("table").asText, n.get("sql").asText)
      }.toIndexedSeq
  }
  private val setup = Harness.read(s"$in/setup.sql").split(";\n")
    .map(_.trim).filter(_.nonEmpty)
  // the warmup op count, then the ops per round
  private val Array(warmup, round) =
    Harness.read(s"$in/rounds.txt").trim.split(" ").map(_.toInt)
  private var cat = ""
  private var base = ""
  private val heads = scala.collection.mutable.Map[Int, Int]()
  private val Ver = """\{ver:(\d+)\}""".r

  private def root(t: String) = s"$base/$t"

  def stage(rep: Int): Unit = {
    cat = s"lake$rep"
    base = s"$out/lake$rep"
    SnapshotTable.deleteTree(base)
    heads.clear()
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    FsCounters.prefix = new File(base).getAbsolutePath
    spark.read.parquet(s"$in/orders.parquet")
      .createOrReplaceTempView("orders_src")
    setup.foreach(s => spark.sql(s.replace("{cat}", cat)).collect())
  }
  def warmupOps: Int = warmup
  def hasOp(i: Int): Boolean = i < ops.size
  override def groupSize: Int = round
  override def kindOf(i: Int): (String, String) = (ops(i).kind, ops(i).table)

  def run(i: Int, rec: OpRec): Unit = {
    val o = ops(i)
    val sql = Ver.replaceAllIn(o.sql.replace("{cat}", cat),
      m => heads(m.group(1).toInt).toString)
    val layer = if (o.kind == "read") "sources" else "table"
    val rows = tr.span("stmt", layer) { spark.sql(sql).collect() }
    rec.steps = 1
    if (o.kind == "read") rec.rows = rows.toSeq.map(Harness.cells)
  }

  override def after(rec: OpRec): Unit = if (rec.kind != "read") {
    // the manifest reads a time-travel reader starts with, timed
    val t0 = Clock.now()
    val vs = SnapshotTable.versions(root(rec.table))
    rec.liveFiles = SnapshotTable.files(root(rec.table), vs.max).size
    rec.manifestMs = Clock.now() - t0
    rec.head = vs.max
    rec.nVersions = vs.size
    heads(rec.i) = vs.max
  }

  override def finish(out: String): String = {
    val tables = Seq("cow", "mor")
    tables.foreach { t =>
      Harness.dump(spark, s"select * from $cat.$t", s"$out/check/head_$t")
    }
    // one time-travel check: the oldest recorded head still retained
    val morVersions = SnapshotTable.versions(root("mor")).toSet
    val tt = heads.toSeq.sortBy(_._1)
      .find { case (i, v) => ops(i).table == "mor" && morVersions(v) }
    tt.foreach { case (_, v) =>
      Harness.dump(spark, s"select * from $cat.mor VERSION AS OF $v",
        s"$out/check/asof_mor")
    }
    val tableBytes = tables.map(t => Harness.dirBytes(new File(root(t)))).sum
    val plainBytes = tables.map(t =>
      Harness.dirBytes(new File(s"$out/check/head_$t"))).sum
    s"""{"table_bytes": $tableBytes, "plain_bytes": $plainBytes, """ +
    s""""asof_op": ${tt.map(_._1).getOrElse(-1)}, """ +
    s""""asof_version": ${tt.map(_._2).getOrElse(-1)}}"""
  }
}
