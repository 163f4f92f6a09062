package graft.etl

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkTestBridge.drainListeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Range, ResolvedHint}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.backend.SparkBackend

/** A step pays for the Spark work its SQL needs and no more: views
  * register without a SQL execution, a constant `variables` select
  * collects as local rows, and a `log` step executes its query once.
  * Each case pins that the step's observable behaviour is what the
  * plain Dataset calls gave. */
class StepSparkWorkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Jobs and SQL executions started while `f` runs. */
  private def work[T](f: => T): (T, Int, Int) = {
    val jobs = new AtomicInteger
    val execs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
    }
    drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      drainListeners(spark.sparkContext)
      (r, jobs.get, execs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def processor(sql: String): SqlProcessor =
    new SqlProcessor(new SparkBackend(spark), sql)

  /** Runs every step without the end-of-run report print. */
  private def runSteps(p: SqlProcessor): Unit =
    p.stepList.foreach(p.runStep(_, dryRun = false))

  test("temp and cache steps register without a SQL execution and list " +
      "as temporary views") {
    val p = processor("""
-- target=temp.sw_t
select id from range(3)
-- target=cache.sw_c
select id * 2 as v from sw_t
""")
    val (_, jobs, execs) = work(runSteps(p))
    assert(execs === 0)
    assert(jobs === 0)
    val temps = spark.catalog.listTables().collect()
      .filter(t => Set("sw_t", "sw_c").contains(t.name))
    assert(temps.map(_.name).toSet === Set("sw_t", "sw_c"))
    assert(temps.forall(_.isTemporary))
    assert(p.backend.tempTables().toSet.contains("sw_c"))
    assert(spark.catalog.isCached("sw_c"))
    assert(spark.table("sw_c").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 2L, 4L))
  }

  test("replacing a cached view with a different plan uncaches the old " +
      "data") {
    runSteps(processor("""
-- target=cache.sw_re
select id from range(3)
"""))
    val old = spark.table("sw_re")
    assert(old.storageLevel !== StorageLevel.NONE)
    runSteps(processor("""
-- target=cache.sw_re
select id from range(5)
"""))
    assert(old.storageLevel === StorageLevel.NONE)
    assert(spark.catalog.isCached("sw_re"))
    assert(spark.table("sw_re").count() === 5)
    runSteps(processor("""
-- target=temp.sw_re
select id from range(7)
"""))
    assert(!spark.catalog.isCached("sw_re"))
    assert(spark.table("sw_re").count() === 7)
  }

  test("a temp step selecting from its own name replaces the view as " +
      "createOrReplaceTempView does") {
    // Dataset-registered views store their analyzed plan, so Spark
    // resolves the old view into the new one instead of refusing a cycle
    val sql = "select id * 10 as id from %s where id > 0"
    spark.range(3).toDF("id").createOrReplaceTempView("sw_self_ref")
    spark.sql(sql.format("sw_self_ref")).createOrReplaceTempView("sw_self_ref")
    spark.range(3).toDF("id").createOrReplaceTempView("sw_self")
    runSteps(processor(s"""
-- target=temp.sw_self
${sql.format("sw_self")}
"""))
    def ids(v: String) = spark.table(v).collect().map(_.getLong(0)).toSeq
    assert(ids("sw_self") === ids("sw_self_ref"))
    assert(ids("sw_self") === Seq(10L, 20L))
  }

  test("a broadcast step keeps its hint") {
    runSteps(processor("""
-- target=broadcast.sw_b
select id from range(4)
"""))
    val hints = spark.table("sw_b").queryExecution.analyzed.collect {
      case h: ResolvedHint => h.hints.strategy
    }
    assert(hints === Seq(Some(BROADCAST)))
  }

  private val constants =
    "select true as b, 7 as i, cast(8 as bigint) as l, " +
    "cast(1.50 as decimal(10, 2)) as d, 'x' as s, " +
    "date'2024-01-02' as dt, timestamp'2024-01-02 03:04:05' as ts, " +
    "cast(null as string) as n"

  test("a constant select collects as local rows: no job, the values and " +
      "types first() gave") {
    graft.backend.ConstantSelectToLocalRelation.register(spark)
    val rule = "spark.sql.optimizer.excludedRules"
    spark.conf.set(rule, graft.backend.ConstantSelectToLocalRelation.ruleName)
    val (want, wantJobs, _) =
      try work(spark.sql(constants).first())
      finally spark.conf.unset(rule)
    assert(wantJobs === 1)
    val (got, jobs, _) = work(spark.sql(constants).first())
    assert(jobs === 0)
    assert(got.schema === want.schema)
    assert(got.toSeq === want.toSeq)
    assert(got.toSeq.map(v => Option(v).map(_.getClass)) ===
      want.toSeq.map(v => Option(v).map(_.getClass)))
    assert(got.toSeq === Seq(true, 7, 8L, new java.math.BigDecimal("1.50"),
      "x", java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), null))
    assert(spark.sql(constants).queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.LocalTableScanExec => s
    }.isDefined)
  }

  test("a constant variables step runs no job and sets the same variables") {
    val p = processor(s"""
-- target=variables
$constants
""")
    val (_, jobs, _) = work(runSteps(p))
    assert(jobs === 0)
    assert(Seq("b", "i", "l", "d", "s", "dt", "ts").map(p.vars) ===
      Seq("true", "7", "8", "1.50", "x", "2024-01-02",
        "2024-01-02 03:04:05.0"))
    assert(p.vars("n") == null)
  }

  test("a nondeterministic variables step still runs its job") {
    val p = processor("""
-- target=variables
select rand() as r
""")
    val (_, jobs, _) = work(runSteps(p))
    assert(jobs === 1)
    val r = p.vars("r").toString.toDouble
    assert(r >= 0.0 && r < 1.0)
  }

  test("a 25-row log step executes its query once and prints and " +
      "reports what show(20) did") {
    val query = "select id, concat('v', id) as v from range(25)"
    val shown = new java.io.ByteArrayOutputStream
    Console.withOut(shown)(spark.sql(query).show(20))
    val p = processor(s"""
-- target=log.sw_log
$query
""")
    val reads = new AtomicInteger
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (qe.analyzed.collectFirst { case r: Range => r }.isDefined)
          reads.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val out = new java.io.ByteArrayOutputStream
    spark.listenerManager.register(l)
    try {
      Console.withOut(out)(runSteps(p))
      drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(reads.get === 1)
    assert(out.toString === "log for [sw_log]:\n" + shown.toString)
    assert(shown.toString.contains("only showing top 20 rows"))
    assert(p.reporter.reportOf(p.stepList.head).get.messages.toSeq ===
      Seq((0 until 20).map(i => s"[$i,v$i]").mkString("\n")))
  }
}
