package graft.easybench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds at nanosecond resolution, on the same axis as the
  * millisecond event times Spark's listeners report. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. Listener spans arrive on Spark's listener thread,
  * which cannot see the harness's span stack: they are recorded with
  * `op` -1 (unless their job group names it) and `parent` 0, and
  * [[Tracer.resolved]] fills both in. `exec` links a job to its SQL
  * execution. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    layer: String, t0: Double, t1: Double, attrs: String, exec: Long = -1)

/** In-memory span store; written out once, when the run ends. Disabled,
  * `span` is a plain call. */
final class Tracer {
  @volatile var enabled = false
  @volatile var op: Int = -1
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicLong(1)
  private var stack: List[Long] = Nil // harness thread only

  def span[T](name: String, layer: String, attrs: String = "")(
      body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        add(Span(id, parent, op, name, layer, t0, Clock.now(), attrs))
      }
    }

  /** A span measured elsewhere (listener events). */
  def record(name: String, layer: String, t0: Double, t1: Double,
      attrs: String = "", op: Int = -1, parent: Long = 0L,
      exec: Long = -1): Long = {
    val id = ids.getAndIncrement()
    add(Span(id, parent, op, name, layer, t0, t1, attrs, exec))
    id
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  /** Every span with its op and parent: a listener span belongs to the op
  * whose interval holds its start (listener times are whole
  * milliseconds, so 1 ms of truncation is allowed), and its parent is
  * its job's SQL execution or else the innermost harness span of that op
  * holding its start. Spans outside every op keep op -1. */
  def resolved: Seq[Span] = {
    val all = synchronized(spans.toList)
    val ops = all.filter(_.layer == "op").sortBy(_.t0).toIndexedSeq
    val byOp = all.filter(s => s.op >= 0 && s.parent > 0).groupBy(_.op)
    val execs = all.filter(_.layer == "exec").map(s => s.exec -> s).toMap
    def holds(s: Span, t: Double) = s.t0 - 1.0 <= t && t <= s.t1
    def opAt(t: Double): Int = {
      // the last op starting at or before t
      var lo = 0
      var hi = ops.size
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (ops(mid).t0 - 1.0 <= t) lo = mid + 1 else hi = mid
      }
      if (lo > 0 && holds(ops(lo - 1), t)) ops(lo - 1).op else -1
    }
    val opSpan = ops.map(o => o.op -> o).toMap
    all.map { s =>
      if (s.parent > 0 || s.layer == "op") s
      else {
        val op = if (s.op >= 0) s.op else opAt(s.t0)
        val inner = byOp.getOrElse(op, Nil).filter(holds(_, s.t0))
        val parent = execs.get(s.exec).filter(_ => s.layer == "spark")
          .map(_.id)
          .orElse(if (inner.isEmpty) None else Some(inner.maxBy(_.t0).id))
          .orElse(opSpan.get(op).map(_.id)).getOrElse(0L)
        s.copy(op = op, parent = parent)
      }
    }
  }
}

/** Per-stage task aggregates from `onTaskEnd`. */
final class StageAgg(val stageId: Int) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  val durations = ArrayBuffer[Long]()
}

/** Jobs, stages and SQL executions, from Spark's public listener API.
  * Jobs carry the job group the harness set for their op; a job without
  * one is attributed to an op by its time interval afterwards. */
final class JobListener(tr: Tracer) extends SparkListener {
  private case class JobStart(t0: Long, group: String, exec: String,
      stages: Seq[Int])
  private val open = scala.collection.mutable.Map[Int, JobStart]()
  private val execStart = scala.collection.mutable.Map[Long, Long]()
  val stages = scala.collection.mutable.LinkedHashMap[Int, StageAgg]()
  val stageJob = scala.collection.mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    open(e.jobId) = JobStart(e.time,
      p.map(_.getProperty("spark.jobGroup.id")).orNull,
      p.map(_.getProperty("spark.sql.execution.id")).orNull, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      val attrs = s""""job": ${e.jobId}, "group": ${Json.str(j.group)}, """ +
        s""""stages": [${j.stages.mkString(", ")}]"""
      val op = Option(j.group).filter(_.startsWith("op-"))
        .map(_.drop(3).toInt).getOrElse(-1)
      tr.record(s"job ${e.jobId}", "spark", j.t0.toDouble, e.time.toDouble,
        attrs, op = op,
        exec = Option(j.exec).map(_.toLong).getOrElse(-1L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(s.executionId).foreach { t0 =>
        tr.record(s"exec ${s.executionId}", "exec", t0.toDouble,
          s.time.toDouble, exec = s.executionId)
      }
    }
    case _ => ()
  }
}

/** Catalyst phases (parsing, analysis, optimization, planning) of every
  * executed query, from the public `QueryExecutionListener`. A view
  * definition that no action ever executes reports nothing here, so its
  * analysis counts toward the step that defined it. */
final class PhaseListener(tr: Tracer) extends QueryExecutionListener {
  val execs = new AtomicLong()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val n = execs.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, s) =>
      tr.record(phase, "backend", s.startTimeMs.toDouble,
        s.endTimeMs.toDouble,
        s""""qe": $n, "func": ${Json.str(funcName)}""")
    }
  }
}

/** Filesystem call counters under the snapshot tables' base directory. */
object FsCounters {
  @volatile var prefix: String = null
  @volatile var on = false
  val creates, renames, deletes, lists, opens, status = new AtomicLong()

  def hit(p: Path, c: AtomicLong): Unit =
    if (on && prefix != null && p != null &&
        p.toUri.getPath.startsWith(prefix)) c.incrementAndGet()

  def snapshot(): Seq[Long] =
    Seq(creates, renames, deletes, lists, opens, status).map(_.get)

  /** Bytes read and written through every `file:` filesystem instance. */
  def bytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** The local filesystem with call counting, installed as `fs.file.impl`
  * in traced runs. Counting the checksummed entry points counts each
  * logical call once; the raw calls beneath them are not counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hit(f, creates)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(f, creates)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    hit(src, renames); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit(f, deletes); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    hit(f, lists); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit(f, lists); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(f, opens); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    hit(f, status); super.getFileStatus(f)
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
