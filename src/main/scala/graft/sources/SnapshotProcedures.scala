package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.WriteOps.SnapshotTable

/** SQL maintenance surface for the snapshot catalog — Spark 4's DSv2
  * stored procedures (`ProcedureCatalog`, the `CALL` statement), the
  * Iceberg-procedure shape (`CALL cat.system.rewrite_data_files(...)`)
  * re-expressed over this table format:
  *
  * {{{
  *   CALL <cat>.system.optimize(table => 't', zorder_by => 'a,b')
  *   CALL <cat>.system.vacuum(table => 't', retain => 2)
  *   CALL <cat>.system.vacuum_orphans(table => 't')
  *   CALL <cat>.system.restore(table => 't', version => 3)
  * }}}
  *
  * Why procedures and not DML: maintenance is imperative — it has no
  * row semantics to declare, only a table state transition plus a
  * bounded summary the operator wants back (new head version, counts).
  * Each procedure returns exactly ONE summary row through a
  * driver-local scan; version numbers and counts only, never data
  * rows, so the driver-side result is O(1) regardless of table size.
  * The underlying transitions ride the existing commit substrate
  * (atomic publish, monotonic timestamps, root-scoped reclaim), so a
  * `CALL` is exactly as safe as the programmatic API it fronts.
  *
  * Reference behavior mirrored: easy_sql surfaces whatever SQL its
  * backend dialect supports (easy_sql/sql_processor/backend — the
  * Spark backend execs statements verbatim), so a Spark backend with
  * this catalog registered gets `CALL` in ETL steps for free.
  */
object SnapshotProcedures {

  val Namespace: Array[String] = Array("system")

  /** All procedure names, for listProcedures + the unknown-name error. */
  val names: Seq[String] =
    Seq("optimize", "vacuum", "vacuum_orphans", "restore")

  def load(name: String, base: String): UnboundProcedure = name match {
    case "optimize"       => new OptimizeProcedure(base)
    case "vacuum"         => new VacuumProcedure(base)
    case "vacuum_orphans" => new VacuumOrphansProcedure(base)
    case "restore"        => new RestoreProcedure(base)
    case other => throw new UnsupportedOperationException(
      s"unknown procedure '$other' — snapshot catalogs expose " +
      names.mkString("system.{", ", ", "}"))
  }

  /** Shared shape: every maintenance procedure binds as-declared (the
    * parameter list is fixed; Spark coerces argument types against it)
    * and answers with one summary row via a driver-local scan. */
  private[sources] abstract class MaintenanceProcedure(base: String)
      extends UnboundProcedure with BoundProcedure {

    protected def resultSchema: StructType
    /** The state transition. Returns the summary row's values, in
      * `resultSchema` field order (strings as UTF8String). */
    protected def run(spark: SparkSession, input: InternalRow): Array[Any]

    override def bind(inputType: StructType): BoundProcedure = this
    // every procedure mutates or reclaims table state
    override def isDeterministic: Boolean = false

    protected def rootOf(input: InternalRow): String = {
      val t = input.getUTF8String(0)
      require(t != null && t.toString.nonEmpty, "table must be set")
      val table = t.toString
      require(!table.contains("..") && !table.startsWith("/"),
        s"table must be a name under the catalog base (got '$table')")
      s"$base/$table"
    }

    protected def headOf(root: String): Int = {
      val vs = SnapshotTable.versions(root)
      require(vs.nonEmpty, s"no snapshot table at $root")
      vs.max
    }

    protected def param(name: String, dt: DataType,
        default: String = null): ProcedureParameter = {
      val b = ProcedureParameter.in(name, dt)
      if (default != null) b.defaultValue(default)
      b.build()
    }

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val values = run(SparkSession.active, input)
      val schema = resultSchema
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          Array(new GenericInternalRow(values))
        override def readSchema(): StructType = schema
      }
      util.Collections.singletonList(scan).iterator()
    }
  }

  /** `CALL system.optimize(table, max_files_per_partition,
    * target_file_bytes, zorder_by)` — compaction (plus tombstone
    * purge, plus optional z-order clustering) as one commit. No-op
    * when nothing is fragmented: the head does not advance and the
    * summary says so (`partitions_rewritten = 0`). */
  private[sources] final class OptimizeProcedure(base: String)
      extends MaintenanceProcedure(base) {
    override def name(): String = "optimize"
    override def description(): String =
      "compact fragmented partitions (and purge delete-vector " +
      "tombstones) into right-sized files as one snapshot commit"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("max_files_per_partition", IntegerType, "1"),
      param("target_file_bytes", LongType, (128L << 20).toString),
      param("zorder_by", StringType, "''"),
      // `OPTIMIZE ... WHERE` analog: comma-separated pt_year values
      // restricting the rewrite to named partitions ('' = all)
      param("where_years", StringType, "''"))
    override protected val resultSchema: StructType = StructType(Seq(
      StructField("new_version", IntegerType, nullable = false),
      StructField("partitions_rewritten", IntegerType, nullable = false)))
    override protected def run(spark: SparkSession,
        input: InternalRow): Array[Any] = {
      val root = rootOf(input)
      val head = headOf(root)
      val maxFiles = input.getInt(1)
      val targetBytes = input.getLong(2)
      val zorder = Option(input.getUTF8String(3)).map(_.toString)
        .getOrElse("").split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val whereYears = Option(input.getUTF8String(4)).map(_.toString)
        .getOrElse("").split(',').map(_.trim).filter(_.nonEmpty)
        .map(_.toInt).toSeq
      val rewritten = SnapshotTable.optimize(spark, root, head + 1,
        maxFilesPerPartition = maxFiles,
        targetFileBytes = targetBytes,
        zorderBy = zorder,
        onlyYears = if (whereYears.isEmpty) None else Some(whereYears))
      val newHead = if (rewritten.nonEmpty) head + 1 else head
      Array[Any](newHead, rewritten.length)
    }
  }

  /** `CALL system.vacuum(table, retain)` — reclaim versions older than
    * the newest `retain` (root-scoped; shallow-clone cross-root
    * pointers are never touched). Summary: the surviving head and how
    * many versions remain readable. */
  private[sources] final class VacuumProcedure(base: String)
      extends MaintenanceProcedure(base) {
    override def name(): String = "vacuum"
    override def description(): String =
      "reclaim manifests, data files and tombstone dirs of versions " +
      "older than the newest `retain`"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("retain", IntegerType, "2"),
      // Delta's `VACUUM ... DRY RUN`: count what this retention would
      // reclaim, delete nothing
      param("dry_run", BooleanType, "false"))
    override protected val resultSchema: StructType = StructType(Seq(
      StructField("head_version", IntegerType, nullable = false),
      StructField("versions_retained", IntegerType, nullable = false),
      StructField("paths_reclaimed", IntegerType, nullable = false)))
    override protected def run(spark: SparkSession,
        input: InternalRow): Array[Any] = {
      val root = rootOf(input)
      val retain = input.getInt(1)
      val dryRun = input.getBoolean(2)
      require(retain >= 1, s"retain must be >= 1 (got $retain)")
      headOf(root) // existence check with a readable error
      val reclaimed = SnapshotTable.vacuum(root, retain, dryRun)
      val vs = SnapshotTable.versions(root)
      Array[Any](vs.max, vs.length, reclaimed)
    }
  }

  /** `CALL system.vacuum_orphans(table, horizon_ms)` — reclaim files
    * under the root that NO retained version or branch references and
    * that are older than the horizon (commit-race losers, failed-write
    * leftovers). Summary: how many paths were reclaimed. */
  private[sources] final class VacuumOrphansProcedure(base: String)
      extends MaintenanceProcedure(base) {
    override def name(): String = "vacuum_orphans"
    override def description(): String =
      "reclaim unreferenced files older than the horizon " +
      "(commit-race losers, failed-write leftovers)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("horizon_ms", LongType, (60L * 60 * 1000).toString))
    override protected val resultSchema: StructType = StructType(Seq(
      StructField("orphans_reclaimed", IntegerType, nullable = false)))
    override protected def run(spark: SparkSession,
        input: InternalRow): Array[Any] = {
      val root = rootOf(input)
      headOf(root)
      val reclaimed =
        SnapshotTable.vacuumOrphans(root, horizonMs = input.getLong(1))
      Array[Any](reclaimed.length)
    }
  }

  /** `CALL system.restore(table, version)` — roll the head back to a
    * prior version's content as a NEW commit (history is append-only;
    * the bad versions stay readable until vacuum). Summary: the
    * restored-to source version and the new head that now serves it. */
  private[sources] final class RestoreProcedure(base: String)
      extends MaintenanceProcedure(base) {
    override def name(): String = "restore"
    override def description(): String =
      "roll the table head back to a prior version's content as a " +
      "new commit"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("version", IntegerType))
    override protected val resultSchema: StructType = StructType(Seq(
      StructField("restored_to", IntegerType, nullable = false),
      StructField("new_version", IntegerType, nullable = false)))
    override protected def run(spark: SparkSession,
        input: InternalRow): Array[Any] = {
      val root = rootOf(input)
      val head = headOf(root)
      val toVersion = input.getInt(1)
      SnapshotTable.restore(root, head + 1, toVersion)
      Array[Any](toVersion, head + 1)
    }
  }
}
