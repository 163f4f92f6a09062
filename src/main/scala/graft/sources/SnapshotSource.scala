package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.operators.WriteOps.SnapshotTable

/** DataSource V2 connector exposing the manifest-committed
  * [[graft.operators.WriteOps.SnapshotTable]] as a Spark TABLE — both a
  * batch source and a MICRO-BATCH STREAMING source in which each
  * snapshot VERSION is a unit of progress (the Delta-source shape:
  * `readStream.format("graft-snapshot").option("root", ...)`).
  *
  *  - Offsets are VERSION NUMBERS. A batch (start, end] serves, for
  *    every version in the range, that version's FRESH files — the
  *    manifest-pointer diff against its parent, computed from METADATA
  *    alone (no listing, no footer reads). The very first served
  *    version contributes all of its files, so a stream started at the
  *    default `startingVersion` 0 replays the full table then tails
  *    new commits — exactly Delta's starting-version contract.
  *  - A version that REWRITES a partition (upsert/optimize) re-emits
  *    that partition's fresh files in full — the documented
  *    `ignoreChanges` semantics of lakehouse streaming sources;
  *    append-shaped tables (fresh partitions per commit, e.g. the
  *    [[SnapshotTable.commitIfNew]] sink's daily partitions) emit
  *    exactly their appends.
  *  - Schema comes from the head manifest's RECORDED schema (zero
  *    footer sampling); files predating a column null-fill it by NAME
  *    lookup, so evolution composes.
  *  - Each fresh file is one [[InputPartition]] read on an executor
  *    through Spark's own parquet reader ([[SnapshotReaderFactory]]) —
  *    rows never pass through the driver, and a 1000-file commit fans
  *    out 1000-wide. At 100 TB the per-trigger planning cost is
  *    O(|versions in range| × touched partitions) manifest lines.
  *  - Offsets are committed by Structured Streaming's checkpoint; a
  *    restart resumes from the last committed version. Vacuuming past
  *    a stream's resume point fails LOUDLY (the manifest is gone), the
  *    same contract time travel gives.
  *
  * Supported column types (everything the snapshot write path emits):
  * long/int/short/byte, double/float, string, boolean, date,
  * timestamp (micros). */
class SnapshotSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val r = options.get("root")
    require(r != null, "graft-snapshot needs .option(\"root\", <table root>)")
    r
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    val vs = SnapshotTable.versions(root)
    require(vs.nonEmpty, s"no committed versions under $root")
    SnapshotTable.tableSchema(root, vs.max).getOrElse(
      throw new IllegalStateException(
        s"version ${vs.max} of $root records no schema"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotSourceTable(schema,
      properties.getOrDefault("root", properties.get("path")),
      Option(properties.get("versionAsOf")).map(_.toInt))
}

/** DataSource V2 CATALOG over a directory of snapshot tables — the SQL
  * front door: register with
  * `spark.sql.catalog.<name> = graft.sources.SnapshotCatalog` and
  * `spark.sql.catalog.<name>.base = <dir>`, then every `<dir>/<table>`
  * root is `SELECT ... FROM <name>.<table>` — including Spark's native
  * time-travel syntax `VERSION AS OF <v>`, which lands here through
  * `loadTable(ident, version)` and pins the scan to that version's
  * manifest. CRUD-complete (r13), DML/DDL-complete (r14): CREATE
  * TABLE / CTAS initialize an empty v0 through the commit protocol,
  * INSERT INTO / INSERT OVERWRITE / DELETE FROM ride the table's
  * write surface, UPDATE / MERGE INTO run the group-based row-level
  * operation ([[SnapshotRowLevelOperation]]), ALTER TABLE ADD COLUMN
  * lands as a schema-bump commit, DROP TABLE removes the root;
  * RENAME refuses (roots are immutable paths — clone instead). */
class SnapshotCatalog
    extends org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}

  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = options.get("base")
    require(base != null,
      s"spark.sql.catalog.$name.base must point at the table directory")
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(base)((p, seg) => s"$p/$seg")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new HPath(namespace.foldLeft(base)((p, s) => s"$p/$s"))
    val fs = dir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => SnapshotTable.versions(s"${dir.toString}/$n").nonEmpty)
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotTable.versions(rootOf(ident)).nonEmpty

  /** Metadata-table fallback: `<cat>.<t>.history|files|partitions`
    * parses as name = the metadata kind with the REAL table as the
    * namespace tail. Real tables always win (this only fires when no
    * snapshot lineage exists at the identifier's own root), and the
    * base table must exist. */
  private def metadataTable(ident: Identifier,
      pinned: Option[Int]): Option[Table] =
    if (SnapshotMetadataTables.names.contains(ident.name()) &&
        ident.namespace().nonEmpty) {
      val baseIdent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val baseRoot = rootOf(baseIdent)
      if (SnapshotTable.versions(baseRoot).nonEmpty)
        Some(SnapshotMetadataTables.table(ident.name(), baseRoot,
          baseIdent.name(), pinned))
      else None
    } else None

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    val vs = SnapshotTable.versions(root)
    if (vs.isEmpty)
      metadataTable(ident, None).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchTableException(ident))
    else new SnapshotSourceTable(
      SnapshotTable.tableSchema(root, vs.max).get, root, None)
  }

  /** `VERSION AS OF <v>` — Spark routes the SQL time-travel clause
    * here; the returned table pins every scan to version v. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    val v = version.toInt
    if (SnapshotTable.versions(root).isEmpty)
      metadataTable(ident, Some(v)).foreach(t => return t)
    require(SnapshotTable.versions(root).contains(v),
      s"version $v of ${ident.name} is unavailable (vacuumed or never " +
      "committed)")
    new SnapshotSourceTable(
      SnapshotTable.tableSchema(root, v).get, root, Some(v))
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands the clause's timestamp in
    * MICROSECONDS; it resolves to the latest version committed at or
    * before it (Delta's contract), then pins like VERSION AS OF. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = rootOf(ident)
    val v = SnapshotTable.versionAt(root, timestampMicros / 1000L)
    new SnapshotSourceTable(
      SnapshotTable.tableSchema(root, v).get, root, Some(v))
  }

  /** `CREATE TABLE <cat>.<t> (...)` — and the create half of CTAS:
    * the table is born as an EMPTY v0 carrying the recorded schema
    * (one manifest write; CTAS's SELECT then lands as the v1 append
    * through the normal write path). Partition transforms are refused
    * — partitioning is the pt_year column convention, which the
    * schema must therefore carry. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "snapshot tables partition by the pt_year COLUMN convention — " +
      "declare pt_year in the schema instead of PARTITIONED BY")
    require(schema.fieldNames.contains("pt_year"),
      "snapshot tables need a pt_year int column (the partition key)")
    require(schema("pt_year").dataType ==
        org.apache.spark.sql.types.IntegerType,
      s"pt_year must be INT (got ${schema("pt_year").dataType.sql}) — " +
      "the partition-key contract is enforced at DDL time so the " +
      "first write doesn't fail deep in the append path")
    val root = rootOf(ident)
    require(SnapshotTable.versions(root).isEmpty,
      s"table ${ident.name} already exists at $root")
    // `TBLPROPERTIES ('rowKey' = '<col>')`: declare the unique row-
    // identity column — rides as pt_year field metadata (like the
    // retired-name set), so every commit path and VERSION AS OF carry
    // it for free. Tables WITH a rowKey run UPDATE/MERGE/non-metadata
    // DELETE as merge-on-read row deltas instead of group CoW.
    val rowKey = Option(properties.get("rowKey"))
      .orElse(Option(properties.get("rowkey")))
    val schemaK = rowKey.fold(schema) { k =>
      require(k != "pt_year",
        "rowKey must be a data column, not the partition key")
      val f = schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"rowKey column '$k' is not in the schema"))
      import org.apache.spark.sql.types._
      require(Seq(LongType, IntegerType, StringType, DoubleType)
          .contains(f.dataType),
        s"rowKey '$k' must be BIGINT, INT, STRING, or DOUBLE (got " +
        s"${f.dataType.sql}) — the tombstone sidecar keys on it")
      StructType(schema.fields.map { sf =>
        if (sf.name != "pt_year") sf
        else sf.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(sf.metadata)
            .putString(SnapshotTable.RowKeyKey, k).build())
      })
    }
    // `TBLPROPERTIES ('bloomFilterColumns' = 'a,b')`: declare the
    // columns every write should carry a parquet bloom filter for —
    // point (`=`/`IN`) probes on high-cardinality, non-clustered
    // keys then skip row groups that cannot hold the value (see
    // SnapshotTable.BloomColsKey). Restricted to integral and string
    // columns: a bloom hashes a value's bits, while Spark's float
    // equality matches 0.0 to -0.0, so a float bloom could skip a
    // row group holding a match.
    val bloomCols = Option(properties.get("bloomFilterColumns"))
      .orElse(Option(properties.get("bloomfiltercolumns")))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    val schemaB =
      if (bloomCols.isEmpty) schemaK
      else {
        import org.apache.spark.sql.types._
        bloomCols.foreach { c =>
          val f = schemaK.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"bloomFilterColumns column '$c' is not in the schema"))
          require(Seq(LongType, IntegerType, ShortType, ByteType,
              StringType).contains(f.dataType),
            s"bloomFilterColumns '$c' must be an integral or string " +
            s"column (got ${f.dataType.sql}) — a float bloom could " +
            "skip a -0.0 row on a 0.0 probe")
        }
        StructType(schemaK.fields.map { sf =>
          if (sf.name != "pt_year") sf
          else sf.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(sf.metadata)
              .putString(SnapshotTable.BloomColsKey,
                bloomCols.mkString(",")).build())
        })
      }
    val s = SparkSession.active
    // rowKey tables record the identity columns NON-NULLABLE (Spark's
    // delta row-level rewrite requires it, and inserts null-check
    // them); everything else normalizes nullable as usual
    val recorded = StructType(schemaB.fields.map { f =>
      val id = rowKey.contains(f.name) ||
        (rowKey.isDefined && f.name == "pt_year")
      f.copy(nullable = !id)
    })
    SnapshotTable.commit(s, root, 0,
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], recorded),
      Seq.empty, schemaOverride = Some(recorded))
    new SnapshotSourceTable(
      SnapshotTable.tableSchema(root, 0).get, root, None)
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` and `ALTER COLUMN ... TYPE
    * <wider>` — mapped onto the substrate's schema-evolution-through-
    * commits: ONE empty true-append commit carrying the evolved
    * schema. Data files are untouched — every pointer carries;
    * pre-evolution files null-fill added columns by name at read, and
    * files written at a NARROWER type upcast at read (int32→long,
    * float→double — the reader keys its per-file plan off the FILE's
    * physical type, so old and new files mix freely under the widened
    * schema). `VERSION AS OF` a pre-evolution version still serves
    * the old schema verbatim. Widenings are the value-preserving
    * lattice only (byte→short→int→bigint, float→double); NARROWING,
    * renames, drops, and positioned/defaulted adds refuse loudly (a
    * silent narrowing would corrupt carried data). Manifest stats
    * survive widening unchanged — integral stats order as Long and
    * float stats already record exact doubles, so file pruning keeps
    * the same semantics at the wider type. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    val vs = SnapshotTable.versions(root)
    require(vs.nonEmpty, s"table ${ident.name} does not exist")
    val head = vs.max
    val parent = SnapshotTable.tableSchema(root, head).getOrElse(
      throw new IllegalStateException(
        s"version $head of $root records no schema"))
    // value-preserving widenings ONLY — every narrower value maps to
    // exactly itself at the wider type
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    val widened = changes.collect {
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          "snapshot tables hold flat schemas — nested ALTER COLUMN " +
          "is unsupported")
        val name = upd.fieldNames.head
        val cur = parent.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"column '$name' does not exist")).dataType
        require(widens(cur, upd.newDataType),
          s"ALTER COLUMN $name TYPE ${upd.newDataType.sql}: only " +
          s"value-preserving widenings are supported (byte→short→int→" +
          s"bigint, float→double); ${cur.sql} → ${upd.newDataType.sql} " +
          "would narrow or reinterpret committed data — refused")
        require(name != "pt_year",
          "pt_year is the partition key — its int type is part of " +
          "the manifest contract and cannot widen")
        name -> upd.newDataType
    }.toMap
    val added = changes.collect {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "snapshot tables hold flat schemas — nested ADD COLUMN is " +
          "unsupported")
        require(add.position == null,
          "ADD COLUMN ... FIRST/AFTER is unsupported — new columns " +
          "append (readers resolve by name, not position)")
        require(add.defaultValue == null,
          "ADD COLUMN DEFAULT is unsupported — carried files null-" +
          "fill new columns")
        StructField(add.fieldNames.head, add.dataType,
          nullable = true) // carried files lack it: must null-fill
    }
    // RENAME = an O(1-manifest) schema bump recording the old name as
    // a field-metadata ALIAS (name mapping): data files never rewrite,
    // readers resolve old files through the alias chain, and VERSION
    // AS OF a pre-rename version serves the old name verbatim (its
    // manifest holds the old schema). DROP = a projection bump: the
    // field leaves the schema, its physical names retire to the
    // RESERVED set (old files still carry them — re-adding the name
    // would resurrect stale values, so it refuses).
    val reserved = SnapshotTable.reservedNames(parent)
    val dvKey: Option[String] =
      SnapshotTable.dvOf(root, head).map(_._2)
    val renames = changes.collect {
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "snapshot tables hold flat schemas — nested RENAME COLUMN " +
          "is unsupported")
        val from = rn.fieldNames.head
        require(from != "pt_year",
          "pt_year is the partition key — part of the manifest " +
          "contract, cannot rename")
        require(parent.fieldNames.contains(from),
          s"column '$from' does not exist")
        require(!dvKey.contains(from),
          s"column '$from' keys this version's pending delete " +
          "tombstones — rewrite (OPTIMIZE) to purge them first")
        require(!parent.fieldNames.contains(rn.newName),
          s"column '${rn.newName}' already exists")
        require(!reserved.contains(rn.newName),
          s"'${rn.newName}' is a retired physical name (a dropped or " +
          "previously-renamed column) — old data files still carry " +
          "it; choose a different name")
        from -> rn.newName
    }.toMap
    val dropped = changes.collect {
      case dl: TableChange.DeleteColumn =>
        require(dl.fieldNames.length == 1,
          "snapshot tables hold flat schemas — nested DROP COLUMN is " +
          "unsupported")
        val name = dl.fieldNames.head
        require(name != "pt_year",
          "pt_year is the partition key — cannot drop")
        require(parent.fieldNames.contains(name) || dl.ifExists,
          s"column '$name' does not exist")
        require(!dvKey.contains(name),
          s"column '$name' keys this version's pending delete " +
          "tombstones — rewrite (OPTIMIZE) to purge them first")
        name
    }.toSet
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.UpdateColumnType |
           _: TableChange.RenameColumn | _: TableChange.DeleteColumn =>
      case other => throw new UnsupportedOperationException(
        s"snapshot tables support ALTER TABLE ADD/RENAME/DROP COLUMN " +
        s"and ALTER COLUMN ... TYPE <wider> (got " +
        s"${other.getClass.getSimpleName})")
    }
    added.foreach { f =>
      require(!parent.fieldNames.contains(f.name) &&
          !renames.values.toSet.contains(f.name),
        s"column '${f.name}' already exists")
      require(!reserved.contains(f.name),
        s"'${f.name}' is a retired physical name (a dropped or " +
        "previously-renamed column) — old data files still carry it " +
        "and would resurrect stale values; choose a different name")
    }
    val aliasMeta = SnapshotTable.colAliases(parent)
    // IF EXISTS on a never-present column must not retire the name:
    // nothing on disk carries it, so a future ADD COLUMN of that name
    // is safe and must stay allowed.
    val newlyRetired: Seq[String] = dropped.toSeq.sorted
      .filter(parent.fieldNames.contains)
      .flatMap(n => n +: aliasMeta.getOrElse(n, Nil))
    val evolved = StructType(parent.fields.flatMap { f0 =>
      if (dropped.contains(f0.name)) None
      else {
        val f = widened.get(f0.name).fold(f0)(t => f0.copy(dataType = t))
        val renamed = renames.get(f.name).fold(f) { to =>
          val chain = f.name +: aliasMeta.getOrElse(f.name, Nil)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(SnapshotTable.AliasesKey, chain.toArray)
          f.copy(name = to, metadata = mb.build())
        }
        // retired names anchor on the immutable partition-key field
        if (renamed.name == "pt_year" && newlyRetired.nonEmpty) {
          val prior = if (renamed.metadata.contains(
              SnapshotTable.ReservedKey))
            renamed.metadata.getStringArray(SnapshotTable.ReservedKey)
          else Array.empty[String]
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(renamed.metadata)
            .putStringArray(SnapshotTable.ReservedKey,
              prior ++ newlyRetired)
          Some(renamed.copy(metadata = mb.build()))
        } else Some(renamed)
      }
    } ++ added)
    val s = SparkSession.active
    // empty commit, zero touched partitions: every pointer carries,
    // only the recorded schema advances (O(1 manifest) metadata);
    // schemaOverride because widened types must not re-merge against
    // the parent (the write-side merge refuses implicit type changes)
    SnapshotTable.commit(s, root, head + 1,
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], evolved),
      Seq.empty, schemaOverride = Some(evolved))
    new SnapshotSourceTable(evolved, root, None)
  }

  /** `DROP TABLE` — removes the whole root (manifests, data, sidecars,
    * scratch); false when nothing was there, per the catalog API. */
  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (SnapshotTable.versions(root).isEmpty) false
    else { SnapshotTable.deleteTree(root); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot table roots are immutable paths — shallow-clone to a " +
      "new root instead")

  /** `CALL <cat>.system.<proc>(...)` — the SQL maintenance surface
    * (optimize / vacuum / vacuum_orphans / restore), see
    * [[SnapshotProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace().sameElements(SnapshotProcedures.Namespace),
      s"procedures live in the system namespace — " +
      s"CALL $catalogName.system.<name>(...) (got " +
      s"${(ident.namespace() :+ ident.name()).mkString(".")})")
    SnapshotProcedures.load(ident.name(), base)
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(SnapshotProcedures.Namespace))
      SnapshotProcedures.names
        .map(Identifier.of(SnapshotProcedures.Namespace, _)).toArray
    else
      // loud per the ProcedureCatalog contract — a typo'd SHOW
      // PROCEDURES IN <cat>.<ns> must error, not print nothing
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
}

/** SQL WRITE surface: `INSERT INTO <catalog>.<table> ...` lands as a
  * TRUE APPEND commit ([[SnapshotTable.commitAppend]]) — fresh files +
  * an O(metadata) manifest merge, full txn protocol (atomic publish,
  * race losers rebase), schema checked by Spark's insert resolution
  * against the table's RECORDED schema. The V1Write bridge hands the
  * driver the batch as a DataFrame; the data write itself distributes
  * as a normal Spark job (only manifest lines touch the driver) — the
  * same bridge Delta shipped on for years. Version-pinned tables
  * (VERSION/TIMESTAMP AS OF) refuse writes; INSERT OVERWRITE refuses
  * (overwrites are merges — use the commit/upsert protocol). */
private[sources] class SnapshotSourceTable(tableSchema: StructType,
    root: String, pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}

  /** SQL `UPDATE` / `MERGE INTO` (and DELETE with predicates the
    * metadata path can't translate) — the GROUP-BASED row-level
    * operation: Spark rewrites the command into a ReplaceData plan
    * over [[SnapshotRowLevelOperation]]'s scan (whole pt_year
    * partitions, runtime-group-filtered down to those actually
    * holding matches) and writes the replacement rows back through
    * the executor-side parquet writers; the commit swaps exactly the
    * scanned partitions' pointers. Translatable DELETEs keep routing
    * through [[deleteWhere]] (Spark's OptimizeMetadataOnlyDeleteFromTable
    * converts them back — one partition-scoped CoW commit, no
    * replacement write job). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      "a VERSION/TIMESTAMP AS OF table is a read-only snapshot")
    () => SnapshotTable.rowKeyOf(tableSchema) match {
      // a declared rowKey upgrades row-level commands to MERGE-ON-READ
      // deltas: removed rows tombstone into the DV sidecar, new rows
      // true-append — a 10-row UPDATE to a 10 GB partition stops
      // rewriting the partition (SupportsDelta; group CoW remains the
      // no-rowKey default and the OPTIMIZE-time physical path)
      case Some(k) =>
        new SnapshotDeltaOperation(root, tableSchema, k, info.command)
      case None =>
        new SnapshotRowLevelOperation(root, tableSchema, info.command)
    }
  }

  override def name(): String =
    s"graft_snapshot($root${pinnedVersion.fold("")(v => s"@v$v")})"
  override def schema(): StructType = tableSchema

  /** The pt_year COLUMN convention declared as identity partitioning —
    * this is what lets Spark's analyzer accept `INSERT OVERWRITE ...
    * PARTITION (pt_year = k)` (static partition spec validation checks
    * the table's declared transforms). */
  override def partitioning(): Array[Transform] =
    if (tableSchema.fieldNames.contains("pt_year"))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .identity("pt_year"))
    else Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      // dynamic overwrite is a v2 batch write (SnapshotDynamicOverwrite);
      // appends and filter overwrites keep the V1 bridge
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE,
      // `MERGE WITH SCHEMA EVOLUTION`: the analyzer lowers source-only
      // columns to alterTable(AddColumn) — our empty schema-bump
      // commit — before planning the row-level rewrite
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** `DESCRIBE TABLE EXTENDED` telemetry: the version's manifest-level
    * stats plus the pending deletion-vector PURGE DEBT
    * (SnapshotTable.describe) — operators see falling-behind OPTIMIZE
    * cadence in plain SQL, not by reading plans. */
  override def properties(): util.Map[String, String] =
    SnapshotTable.describe(root,
      pinnedVersion.getOrElse(SnapshotTable.versions(root).max)).asJava

  /** SQL `DELETE FROM <catalog>.<table> WHERE <pred>` — FILE-granular
    * COPY-ON-WRITE delete: three pruning layers run before any row
    * moves, each in metadata —
    *
    *  1. pt_year conjuncts bound the candidate PARTITIONS
    *     ([[SnapshotFilters.yearBound]]);
    *  2. manifest column stats exclude candidate FILES that cannot
    *     hold a matching row ([[SnapshotFilters.statRanges]] →
    *     entryMatches — the same machinery as read-side skipping), so
    *     the touch-scan opens only possibly-matching files;
    *  3. the rewrite itself is file-granular: within a touched
    *     partition, stats-excluded files CARRY as verbatim manifest
    *     entries (never opened, mtimes pinned by spec) while only the
    *     possibly-matching files rewrite from a DV-applied read
    *     keeping non-matching rows.
    *
    * Partitions holding pending deletion-vector tombstones rewrite
    * WHOLE (a partial rewrite could not soundly purge their
    * tombstones). Commits through the same txn protocol as everything
    * else, so time travel serves the pre-delete state and the change
    * feed emits the deletions. Predicates must translate to source
    * filters (canDeleteWhere) — untranslatable ones fall back to the
    * group-based row-level rewrite ([[SnapshotRowLevelOperation]]).
    * Key-granular MERGE-ON-READ deletes (O(keys) metadata, no rewrite)
    * stay available programmatically via commitDelete. */
  override def canDeleteWhere(filters: Array[
      org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty &&
      filters.forall(SnapshotFilters.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[
      org.apache.spark.sql.sources.Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      "a VERSION/TIMESTAMP AS OF table is a read-only snapshot")
    val s = SparkSession.active
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val pred = filters.flatMap(SnapshotFilters.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val head = SnapshotTable.versions(root).max
    // PARTITION PRUNING before the touch-scan: a pt_year constraint in
    // the (conjunctive) filter list bounds the candidate partitions in
    // METADATA — `DELETE ... WHERE pt_year = 1996 AND <pred>` scans
    // ONLY 1996, not the table; unconstrained deletes scan the head
    val live = SnapshotTable.pointers(root, head).keySet
    val candidates = filters.foldLeft(live) { (acc, f) =>
      acc.intersect(SnapshotFilters.yearBound(f).getOrElse(live))
    }.toSeq.sorted
    // THREE-VALUED LOGIC at the negation boundary: SQL DELETE removes
    // only rows where the predicate is TRUE — a NULL-evaluating row
    // (e.g. `WHERE o_custkey <= 500` on a NULL o_custkey) must be
    // KEPT. `filter(!pred)` would drop it (NOT NULL = NULL, filtered
    // out), silently deleting unmatched rows; matching = pred-is-true
    // and surviving = NOT pred-is-true (Delta's not(cond <=> true)
    // keep-condition shape).
    val matches = coalesce(pred, lit(false))
    // FILE-GRANULAR stats pruning inside the candidate partitions:
    // a file whose manifest [min, max] ranges exclude every conjunct
    // bound cannot hold a TRUE-matching row (NULL-valued rows are
    // outside stats AND evaluate the predicate to non-TRUE), so it
    // neither touch-scans nor rewrites. Tombstoned partitions opt out
    // — they must rewrite whole so the purge stays sound.
    val preds = SnapshotFilters.statRanges(filters)
    val dvYears = SnapshotTable.dvOf(root, head)
      .map(_._3.toSet).getOrElse(Set.empty[Int])
    val parts: Seq[(Int, Seq[SnapshotTable.FileEntry],
        Seq[SnapshotTable.FileEntry])] =
      SnapshotTable.partitionStatEntries(root, head, candidates).map {
        case (y, es) =>
          if (dvYears.contains(y)) (y, es, Seq.empty)
          else {
            val (maybe, excluded) =
              es.partition(SnapshotTable.entryMatches(_, preds))
            (y, maybe, excluded)
          }
      }
    val touched = SnapshotTable
      .readFiles(s, root, head, parts.flatMap(_._2).map(_.path))
      .filter(matches)
      .select("pt_year").distinct().collect().map(_.getInt(0)).toSet
    if (touched.nonEmpty) {
      val touchedParts = parts.filter(p => touched.contains(p._1))
      val kept = SnapshotTable
        .readFiles(s, root, head, touchedParts.flatMap(_._2).map(_.path))
        .filter(!matches)
      val carried = touchedParts.collect {
        case (y, _, excluded) if excluded.nonEmpty => y -> excluded
      }.toMap
      SnapshotTable.commit(s, root, head + 1, kept,
        touched.toSeq.sorted, carriedFiles = carried)
    } // zero matches: delete is a no-op, no version burned
  }

  /** `INSERT INTO` = true append; `INSERT OVERWRITE` (SupportsOverwrite)
    * in two shapes:
    *  - the trivial AlwaysTrue filter (no partition spec) = ONE commit
    *    touching every live ∪ batch partition, so the head becomes
    *    exactly the batch while history keeps serving the
    *    pre-overwrite state;
    *  - a pt_year-bounded filter (`INSERT OVERWRITE ... PARTITION
    *    (pt_year = k)`, or a pt_year = / IN predicate) = ONE commit
    *    touching exactly those partitions — other partitions carry by
    *    pointer (mtimes spec-pinned), and a batch row landing OUTSIDE
    *    the overwrite scope refuses loudly (a silent scope widening
    *    would clobber partitions the statement never named);
    *  - under dynamic partition-overwrite mode (SupportsDynamicOverwrite)
    *    = ONE commit replacing the partitions the batch holds
    *    ([[SnapshotDynamicOverwrite]]).
    * Overwrite filters on anything other than pt_year refuse (row-
    * granular overwrites are DELETE + INSERT, each its own auditable
    * commit). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      "a VERSION/TIMESTAMP AS OF table is a read-only snapshot — " +
      "writes go to the table head")
    require(tableSchema.fieldNames.contains("pt_year"),
      s"$root records no pt_year partition column; SQL appends need it")
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var overwriteAll = false
      private var overwriteYears: Option[Set[Int]] = None
      private var dynamic = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def overwrite(filters: Array[
          org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_.isInstanceOf[
            org.apache.spark.sql.sources.AlwaysTrue])) {
          overwriteAll = true
        } else {
          // partition-scoped overwrite: every conjunct must bound
          // pt_year; the scope is their intersection
          val bounds = filters.map(SnapshotFilters.yearBound)
          require(bounds.forall(_.isDefined),
            "INSERT OVERWRITE on snapshot tables is PARTITION-scoped " +
            "— the overwrite filter must bound pt_year (PARTITION " +
            "(pt_year = k), or a pt_year =/IN predicate); got " +
            filters.mkString(", ") + ". For row-granular overwrites " +
            "run DELETE FROM ... WHERE, then INSERT INTO (each an " +
            "auditable commit)")
          overwriteYears = Some(bounds.flatten.reduce(_ intersect _))
        }
        this
      }
      override def build(): Write =
        if (dynamic) new Write {
          override def toBatch: org.apache.spark.sql.connector.write
              .BatchWrite =
            new SnapshotDynamicOverwrite(root, info.schema().json,
              new SerializableConfiguration(
                SnapshotTable.bloomWriteConf(root, SparkSession.active
                  .sparkContext.hadoopConfiguration)))
        } else new V1Write {
        /** The NATIVE STREAMING SINK (see [[SnapshotStreamingWrite]]):
          * every epoch lands as one txn-recorded append version,
          * exactly-once across restarts and replays. */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(!overwriteAll && overwriteYears.isEmpty,
            "graft-snapshot streams are append-only (a snapshot " +
            "table's history is append-only by construction) — " +
            "complete/update output modes are unsupported")
          new SnapshotStreamingWrite(root, info.schema().json,
            info.queryId(), new org.apache.spark.util
              .SerializableConfiguration(
                SnapshotTable.bloomWriteConf(root, SparkSession.active
                  .sparkContext.hadoopConfiguration)),
            Option(info.options.get("compactEvery")).map(_.toInt))
        }

        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, ovw: Boolean) => {
            val s = data.sparkSession
            // Overwrites validate partition scope from the batch and
            // then stage it — two evaluations of the insert query. A
            // non-deterministic query could pass validation with one
            // row set and stage another (whose out-of-scope rows the
            // partition-scoped stage would then silently drop), and
            // every conflict retry would re-run the query again — so
            // pin the batch ONCE with a lineage-truncating local
            // checkpoint before the scope check. Appends skip the pin
            // (no validation read, single evaluation): the 100 TB hot
            // path pays nothing, and an overwrite's checkpoint is the
            // same source-materialization trade Delta makes for
            // non-deterministic MERGE sources.
            val scoped = overwriteAll || ovw || overwriteYears.isDefined
            val batch = if (scoped) data.localCheckpoint() else data
            def batchYears(): Set[Int] =
              batch.select("pt_year").distinct().collect().map { r =>
                require(!r.isNullAt(0),
                  "insert batch contains a NULL pt_year — the " +
                  "snapshot table partitions by pt_year and cannot " +
                  "place NULL-keyed rows")
                r.getInt(0)
              }.toSet
            // A loser's already-staged files are unreferenced orphans
            // — vacuumOrphans reclaims them on the maintenance pass.
            SnapshotSourceTable.commitRetrying(root) { v =>
              if (overwriteYears.isDefined) {
                // partition-scoped overwrite: exactly the named
                // partitions are touched; a batch row outside the
                // scope is a statement error, not a widened commit
                val years = overwriteYears.get
                val stray = batchYears() -- years
                require(stray.isEmpty,
                  s"INSERT OVERWRITE PARTITION (pt_year in " +
                  s"${years.toSeq.sorted.mkString("{", ",", "}")}) " +
                  s"received rows for partitions " +
                  s"${stray.toSeq.sorted.mkString(",")} outside the " +
                  "overwrite scope")
                SnapshotTable.commit(s, root, v, batch, years.toSeq.sorted)
              } else if (overwriteAll || ovw) {
                // full overwrite: every live partition is touched
                // (those absent from the batch become empty),
                // pending deletion vectors purge (rewrite supersedes)
                val live = SnapshotTable.pointers(root, v - 1).keySet
                SnapshotTable.commit(s, root, v, batch,
                  (live ++ batchYears()).toSeq.sorted)
              } else {
                // merge-on-read tables append over pending
                // tombstones: their births keep re-inserted keys
                // alive (an insert-only MERGE lands here)
                SnapshotTable.commitAppend(s, root, v, batch,
                  overTombstones =
                    SnapshotTable.rowKeyOf(tableSchema).isDefined)
              }
            }
          }
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // mid-history stream subscription: `startingVersion` names the
    // first version to serve; `startingTimestamp` resolves to the
    // earliest version committed at or after it (epoch millis,
    // `yyyy-MM-dd`, or `yyyy-MM-dd HH:mm:ss` — UTC). Mutually
    // exclusive, Delta's contract.
    val fromVersion = Option(options.get("startingVersion")).map(_.toInt)
    val fromTs = Option(options.get("startingTimestamp")).map { raw =>
      val millis = parseStartingTs(raw)
      SnapshotTable.versionAtOrAfter(root, millis)
    }
    require(fromVersion.isEmpty || fromTs.isEmpty,
      "set startingVersion OR startingTimestamp, not both")
    new SnapshotScanBuilder(root, tableSchema,
      fromVersion.orElse(fromTs).getOrElse(0),
      pinnedVersion
        .orElse(Option(options.get("versionAsOf")).map(_.toInt)),
      options.getBoolean("ignoreDeletes", false),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
  }

  private def parseStartingTs(raw: String): Long = {
    val t = raw.trim
    try {
      if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
      else {
        val norm = if (t.length == 10) s"$t 00:00:00" else t
        java.time.LocalDateTime.parse(norm.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    } catch {
      case e @ (_: java.time.format.DateTimeParseException |
                _: NumberFormatException) =>
        throw new IllegalArgumentException(
          s"startingTimestamp '$raw' is not epoch millis, " +
          "yyyy-MM-dd, or yyyy-MM-dd HH:mm:ss (UTC)", e)
    }
  }
}

private[sources] object SnapshotSourceTable {
  /** A retriable commit-race loss (vs a real precondition failure like
    * a tombstoned-partition append, which must surface). */
  private def isCommitConflict(e: Throwable): Boolean = e match {
    case _: java.nio.file.FileAlreadyExistsException => true
    case e: IllegalArgumentException =>
      Option(e.getMessage).exists(_.contains("conflict: version"))
    case _ => false
  }

  /** OPTIMISTIC CONCURRENCY with bounded rebase-retries (Delta's txn
    * retry): `commit(v)` targets head+1; when two writers race, the
    * manifest rename arbitrates, the loser sees the conflict (either
    * a pre-flight require or the rename itself), REBASES on the new
    * head and retries — up to four times. */
  def commitRetrying(root: String)(commit: Int => Unit): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        commit(SnapshotTable.versions(root).max + 1)
        done = true
      } catch {
        case e: Exception if attempt < 4 && isCommitConflict(e) =>
          attempt += 1 // lost the race — rebase and retry
      }
    }
  }
}

/** GROUP-BASED row-level operation (UPDATE / MERGE / non-translatable
  * DELETE) — partition copy-on-write, the Iceberg/Delta group-rewrite
  * shape re-expressed over the snapshot manifest:
  *
  *  - the GROUP is a pt_year partition (the table's commit unit);
  *  - the HEAD is pinned when the operation is built, so the scan and
  *    the commit see one snapshot (a concurrent commit in between
  *    surfaces as a loud conflict — a stale row-level rewrite must
  *    never silently clobber it);
  *  - STATIC pruning: pt_year conjuncts in the command's condition
  *    reach [[SnapshotFilters.yearBound]] through filter pushdown, so
  *    `UPDATE ... WHERE pt_year = 1996 AND ...` plans only 1996;
  *  - RUNTIME group filtering: the scan implements
  *    SupportsRuntimeV2Filtering on pt_year, so Spark runs the
  *    matching-rows subquery first and narrows the rewrite to the
  *    partitions that actually HOLD matches — at 100 TB the
  *    difference between rewriting one partition and the table;
  *  - the replacement write lands executor-side (the same parquet-mr
  *    group writers as the streaming sink; only (year, path, bytes)
  *    triples reach the driver) and the commit swaps exactly the
  *    scanned partitions' pointers ([[graft.operators.WriteOps
  *    .SnapshotTable.commitReplaceEntries]]); rows the command moves
  *    or inserts into UNSCANNED partitions append there. */
private[sources] class SnapshotRowLevelOperation(root: String,
    tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}

  /** Head pinned at operation build: one snapshot for scan + commit. */
  private[sources] val readVersion = SnapshotTable.versions(root).max
  @volatile private[sources] var configuredScan: SnapshotGroupScan = _

  override def command(): org.apache.spark.sql.connector.write
      .RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-snapshot $cmd group-CoW @v$readVersion"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      import org.apache.spark.sql.sources.Filter
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // keep every conjunct a pruning layer understands: pt_year
        // bounds prune PARTITIONS, comparison bounds prune FILES
        pushed = filters.filter(f =>
          SnapshotFilters.yearBound(f).isDefined ||
          SnapshotFilters.statRanges(Array(f)).nonEmpty)
        filters // everything re-evaluates in the rewritten plan
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan = {
        val top = SnapshotTable.top(root, readVersion)
        val live = top.pointers.keySet
        val years = pushed.foldLeft(live) { (acc, f) =>
          acc.intersect(SnapshotFilters.yearBound(f).getOrElse(live))
        }
        // FILE-GRANULAR group membership (deleteWhere's carry pattern,
        // ported to the row-level rewrite): within a candidate
        // partition, a file whose manifest [min, max] stats exclude a
        // pushed conjunct cannot hold a TRUE-matching row (NULL-valued
        // rows are outside stats AND evaluate the condition to
        // non-TRUE), so its rows are preserved by CARRYING the file
        // verbatim into the replacement commit instead of scanning and
        // rewriting it — `UPDATE ... WHERE key = 42` rewrites one
        // file, not the whole partition. DV-tombstoned partitions
        // scan whole (a partial rewrite could not soundly purge their
        // tombstones — same opt-out as deleteWhere).
        val preds = SnapshotFilters.statRanges(pushed)
        val dvYears = top.dv.map(_._3.toSet).getOrElse(Set.empty[Int])
        val fileSets = SnapshotTable
          .partitionStatEntries(top.pointers, years.toSeq.sorted)
          .map { case (y, es) =>
            if (preds.isEmpty || dvYears.contains(y)) y -> (es, Seq.empty)
            else {
              val (maybe, excluded) =
                es.partition(SnapshotTable.entryMatches(_, preds))
              y -> (maybe, excluded)
            }
          }.toMap
        val s = new SnapshotGroupScan(root, tableSchema, top, years,
          fileSets)
        configuredScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: org.apache.spark.sql.connector.write
            .BatchWrite =
          new SnapshotReplaceDataWrite(SnapshotRowLevelOperation.this,
            root, info.schema().json,
            new SerializableConfiguration(
              SnapshotTable.bloomWriteConf(root, SparkSession.active
                .sparkContext.hadoopConfiguration)))
      }
    }
}

/** Shared parser for Spark's runtime (dynamic-partition-pruning)
  * predicates over the partition key: `pt_year IN (...)` / `pt_year =
  * k` over the collected values of the pruning subquery. Used by both
  * the row-level-operation group scan and the ordinary batch scan —
  * None means "unparseable, narrow nothing", which is always SOUND
  * because runtime filters are an optimization: the join (or the
  * rewrite's row-level re-evaluation) re-filters every surviving
  * row. */
private[sources] object SnapshotRuntime {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLiteral, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}

  private def colName(e: VExpr): Option[String] = e match {
    case r: NamedReference => Some(r.fieldNames.mkString("."))
    case _ => None
  }
  private def intOf(e: VExpr): Option[Int] = e match {
    case l: VLiteral[_] => l.value match {
      case n: Number => Some(n.intValue)
      case _ => None
    }
    case _ => None
  }
  def years(p: VPredicate): Option[Set[Int]] =
    (p.name, p.children.toSeq) match {
      case ("IN", c +: vs) if colName(c).contains("pt_year") =>
        val ints = vs.flatMap(intOf)
        if (ints.length == vs.length) Some(ints.toSet) else None
      case ("=", Seq(c, v)) if colName(c).contains("pt_year") =>
        intOf(v).map(Set(_))
      case _ => None
    }
}

/** The row-level operation's scan: the POSSIBLY-MATCHING files of the
  * selected pt_year partitions at the pinned version (DV-applied
  * executor-side, like every read path); stats-excluded files per
  * partition are held aside as CARRY entries the replacement commit
  * re-points verbatim. Runtime group filtering narrows the partition
  * set; the final set is what the write's commit REPLACES.
  * `fileSets`: per candidate year, (files to scan, files to carry). */
private[sources] class SnapshotGroupScan(root: String,
    schema: StructType, top: SnapshotTable.Top, initialYears: Set[Int],
    fileSets: Map[Int, (Seq[SnapshotTable.FileEntry],
      Seq[SnapshotTable.FileEntry])])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}

  @volatile private[sources] var years: Set[Int] = initialYears

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot $root@v${top.version} groups=" +
      years.toSeq.sorted.mkString(",")

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("pt_year"))

  /** Spark's runtime group filter arrives as `pt_year IN (...)` (or
    * `=`) over the matching-rows subquery's collected values — keep
    * only those partitions. Unparseable predicates narrow nothing
    * (sound: the rewrite re-evaluates everything row-level). */
  override def filter(predicates: Array[VPredicate]): Unit =
    predicates.foreach { p =>
      SnapshotRuntime.years(p).foreach(in => years = years.intersect(in))
    }

  override def planInputPartitions(): Array[InputPartition] =
    SnapshotSplits.plan(years.toSeq.sorted.flatMap(y =>
      fileSets.get(y).map(_._1).getOrElse(Seq.empty)))

  /** Stats-excluded files of the FINAL (runtime-narrowed) replaced
    * partitions — the replacement commit re-points these verbatim. */
  private[sources] def carriedFor(
      finalYears: Set[Int]): Map[Int, Seq[SnapshotTable.FileEntry]] =
    fileSets.collect {
      case (y, (_, carry)) if finalYears.contains(y) && carry.nonEmpty =>
        y -> carry
    }

  // no pushed filters: the rewrite copies every row of a matched group
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotReaderFactory(SparkSession.active, schema,
      top.schema.getOrElse(schema), top.dv.map(d => (d._1, d._2)),
      Array.empty)
}

/** The replacement write: executor-side parquet-mr writers (one per
  * pt_year a task sees), then ONE commit swapping the scanned
  * partitions' pointers for the staged entries — rows written into
  * partitions the scan didn't read (MERGE inserts, cross-partition
  * UPDATE moves) append to their partitions instead. An empty
  * operation (runtime filter found no matching groups) commits
  * nothing. */
private[sources] class SnapshotReplaceDataWrite(
    op: SnapshotRowLevelOperation, root: String, schemaJson: String,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private def schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotBatchWriterFactory(root, schemaJson, conf)

  private def filesOf(messages: Array[WriterCommitMessage]) =
    messages.collect { case m: SnapshotFilesMsg => m.files }
      .flatten.toSeq

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = filesOf(messages)
    val scan = op.configuredScan
    require(scan != null,
      "row-level write committed without a configured scan")
    val replaced = scan.years.toSeq.sorted
    if (files.isEmpty && replaced.isEmpty) return // matched nothing
    val s = SparkSession.active
    // the pinned-snapshot commit: a concurrent writer landing after
    // readVersion surfaces as a loud conflict — a row-level rewrite
    // computed against a stale snapshot must never silently clobber
    // the interleaved commit (retry the statement instead). Stats-
    // excluded files of the replaced partitions carry verbatim — the
    // file-granular half of the group rewrite.
    SnapshotTable.commitReplaceEntries(s, root, op.readVersion + 1,
      SnapshotTable.freshEntries(s, files, schema), replaced,
      scan.carriedFor(replaced.toSet))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    filesOf(messages).foreach { case (_, p, _) =>
      SnapshotTable.deleteTree(p)
    }
}

/** `INSERT OVERWRITE` under `spark.sql.sources.partitionOverwriteMode
  * = dynamic` (the mode `DataProcess` sessions run in): the batch lands
  * through the executor-side writers, then ONE commit replaces exactly
  * the pt_year partitions the batch holds — every other partition
  * carries by pointer, as in the static `PARTITION (pt_year = k)`
  * path. An empty batch replaces nothing and commits nothing (Spark's
  * dynamic-overwrite contract). A commit race rebases on the new head
  * and retries, reusing the staged files. */
private[sources] class SnapshotDynamicOverwrite(root: String,
    schemaJson: String, conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotBatchWriterFactory(root, schemaJson, conf)

  private def filesOf(messages: Array[WriterCommitMessage]) =
    messages.collect { case m: SnapshotFilesMsg => m.files }
      .flatten.toSeq

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = filesOf(messages)
    if (files.isEmpty) return
    val s = SparkSession.active
    val staged = SnapshotTable.freshEntries(s, files,
      DataType.fromJson(schemaJson).asInstanceOf[StructType])
    val years = files.map(_._1).distinct.sorted
    SnapshotSourceTable.commitRetrying(root) { v =>
      SnapshotTable.commitReplaceEntries(s, root, v, staged, years)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    filesOf(messages).foreach { case (_, p, _) =>
      SnapshotTable.deleteTree(p)
    }
}

/** DELTA-BASED row-level operation (SupportsDelta — SQL UPDATE /
  * MERGE / non-metadata DELETE on a table declaring a `rowKey`):
  * merge-on-read. Spark rewrites the command into a WriteDelta plan
  * whose writer receives per-row DELETE/INSERT ops (updates split by
  * [[representUpdateAsDeleteAndInsert]]); removed rows land as
  * deletion-vector tombstones, new rows as true-append files, ONE
  * commit ([[graft.operators.WriteOps.SnapshotTable.commitDelta]]).
  * The scan is the ordinary pinned batch scan — full pushdown +
  * runtime partition filtering apply, and NOTHING is rewritten, so a
  * few-row UPDATE against a 10 GB partition reads the candidate
  * files and writes O(delta). rowId = (rowKey, pt_year): the key
  * names the row, the partition scopes the tombstone (exactly the
  * sidecar's grain). */
private[sources] class SnapshotDeltaOperation(root: String,
    tableSchema: StructType, rowKey: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write.{DeltaWriteBuilder, DeltaWrite, LogicalWriteInfo}

  private[sources] val readVersion = SnapshotTable.versions(root).max

  override def command(): org.apache.spark.sql.connector.write
      .RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-snapshot $cmd merge-on-read @v$readVersion"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(rowKey), Expressions.column("pt_year"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new SnapshotScanBuilder(root, tableSchema, 0,
      pinnedVersion = Some(readVersion))

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new SnapshotDeltaWrite(
        SnapshotDeltaOperation.this, root, rowKey,
        tableSchema.json,
        new SerializableConfiguration(
          SnapshotTable.bloomWriteConf(root, SparkSession.active
            .sparkContext.hadoopConfiguration)))
    }
}

/** One staged tombstone file per task (key, pt_year) + the fresh
  * insert files' (year, path, bytes) triples — only these reach the
  * driver. */
private[sources] case class SnapshotDeltaMsg(
    files: Seq[(Int, String, Long)], dvFile: Option[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class SnapshotDeltaWrite(op: SnapshotDeltaOperation,
    root: String, rowKey: String, schemaJson: String,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private def schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  // one stage dir per write: tasks land tombstone files inside,
  // commit consumes and removes it (a failed write leaves orphans a
  // vacuum reclaims — same posture as data-file staging)
  private val dvStage = new HPath(root,
    s"stage_dvdelta_${java.util.UUID.randomUUID().toString.take(8)}")
    .toString

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      new SnapshotDeltaWriterFactory(root, dvStage, rowKey,
        schemaJson, conf)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.collect { case m: SnapshotDeltaMsg => m }
      val files = ms.flatMap(_.files).toSeq
      val dvFiles = ms.flatMap(_.dvFile).toSeq
      val s = SparkSession.active
      try {
        if (files.nonEmpty || dvFiles.nonEmpty)
          SnapshotTable.commitDelta(s, root, op.readVersion + 1,
            rowKey, files, dvFiles, schema)
      } finally SnapshotTable.deleteTree(dvStage)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      messages.collect { case m: SnapshotDeltaMsg => m }
        .foreach(_.files.foreach { case (_, p, _) =>
          SnapshotTable.deleteTree(p)
        })
      SnapshotTable.deleteTree(dvStage)
    }
  }
}

private[sources] class SnapshotDeltaWriterFactory(root: String,
    dvStage: String, rowKey: String, schemaJson: String,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new SnapshotDeltaWriter(root, dvStage, rowKey, schemaJson,
      conf.value, partitionId)
}

/** Executor-side delta writer: INSERTs route to the shared per-year
  * parquet group writers (same machinery as the streaming sink and
  * the group rewrite); DELETEs stream (key, pt_year) pairs into one
  * staged tombstone file — nothing buffers beyond parquet's own row
  * group, so a wide delete stays O(1) memory. */
private[sources] class SnapshotDeltaWriter(root: String,
    dvStage: String, rowKey: String, schemaJson: String,
    conf: org.apache.hadoop.conf.Configuration, partitionId: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.io.api.Binary

  private val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val inserts =
    new SnapshotGroupWriter(root, schemaJson, conf, partitionId, 0L)

  // the rowId projection is (rowKey, pt_year) — fixed positions, see
  // SnapshotDeltaOperation.rowId
  private val keyType = schema.fields(schema.fieldIndex(rowKey)).dataType
  private val dvSchema = StructType(Seq(
    schema.fields(schema.fieldIndex(rowKey)).copy(name = rowKey,
      nullable = false),
    org.apache.spark.sql.types.StructField("pt_year",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  private val dvMsgType = SnapshotParquet.messageType(dvSchema)
  private val token = java.util.UUID.randomUUID().toString.take(8)
  private var dvWriter: ParquetWriter[org.apache.parquet.example.data.Group] = _
  private var dvPath: HPath = _

  private def dvW(): ParquetWriter[org.apache.parquet.example.data.Group] = {
    if (dvWriter == null) {
      dvPath = new HPath(dvStage, f"t$partitionId%05d_$token.parquet")
      dvWriter = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(dvPath, conf))
        .withConf(conf).withType(dvMsgType).build()
    }
    dvWriter
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    require(!id.isNullAt(0) && !id.isNullAt(1),
      s"row-level delete saw a NULL $rowKey/pt_year id — the rowKey " +
      "column must be non-null on every row")
    val g = new SimpleGroup(dvMsgType)
    keyType match {
      case LongType => g.add(rowKey, id.getLong(0))
      case IntegerType => g.add(rowKey, id.getInt(0))
      case DoubleType => g.add(rowKey, id.getDouble(0))
      case StringType =>
        g.add(rowKey, Binary.fromString(id.getUTF8String(0).toString))
      case dt => throw new UnsupportedOperationException(
        s"rowKey type ${dt.simpleString} is not tombstone-able")
    }
    g.add("pt_year", id.getInt(1))
    dvW().write(g)
  }

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    // unreachable under representUpdateAsDeleteAndInsert, kept total
    delete(meta, id); insert(row)
  }

  override def commit(): org.apache.spark.sql.connector.write
      .WriterCommitMessage = {
    val fileMsg = inserts.commit() match {
      case SnapshotFilesMsg(fs) => fs
    }
    val dv = Option(dvWriter).map { w =>
      w.close()
      dvPath.toString
    }
    SnapshotDeltaMsg(fileMsg, dv)
  }

  override def abort(): Unit = {
    inserts.abort()
    if (dvWriter != null) {
      try dvWriter.close() catch { case _: Exception => () }
      try dvPath.getFileSystem(conf).delete(dvPath, false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = inserts.close()
}

/** V1 source Filter → Column translation for the SQL DELETE path.
  * Total over the conjunctive/boolean core; anything untranslatable
  * returns None and canDeleteWhere refuses the whole DELETE (Spark
  * then fails loudly before any data moves — never a partial or
  * over-broad delete). */
private[sources] object SnapshotFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  // Same bound-value whitelist as the read-side scan builder: NaN /
  // non-finite floats must never become pruning bounds (Spark orders
  // NaN greatest-and-self-equal; IEEE stats comparison would wrongly
  // exclude every file).
  private def comparable(v: Any): Boolean = v match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte | _: String => true
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case f: java.lang.Float => !f.isNaN && !f.isInfinite
    case _ => false
  }

  /** Per-column conjunctive [lo, hi] bounds from the TOP-LEVEL filter
    * conjuncts — the DELETE path's file-granular stats prune. Only the
    * plain comparison shapes contribute (strict bounds conservatively
    * widen to inclusive); anything else contributes nothing, which is
    * SOUND because bounds only ever EXCLUDE files whose stats ranges
    * cannot satisfy a handled conjunct. */
  def statRanges(filters: Array[Filter]): Seq[(String, Any, Any)] = {
    val m = scala.collection.mutable.LinkedHashMap[String, (Any, Any)]()
    def tighten(c: String, lo: Any, hi: Any): Unit = {
      val (l0, h0) = m.getOrElse(c, (null, null))
      m(c) = (if (lo != null) lo else l0, if (hi != null) hi else h0)
    }
    filters.foreach {
      case EqualTo(c, v) if comparable(v) => tighten(c, v, v)
      case GreaterThan(c, v) if comparable(v) => tighten(c, v, null)
      case GreaterThanOrEqual(c, v) if comparable(v) =>
        tighten(c, v, null)
      case LessThan(c, v) if comparable(v) => tighten(c, null, v)
      case LessThanOrEqual(c, v) if comparable(v) => tighten(c, null, v)
      case _ => ()
    }
    m.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** The pt_year partitions a TOP-LEVEL conjunct can touch, when it
    * bounds them: EqualTo/In on pt_year (the `DELETE ... WHERE
    * pt_year = Y AND <rest>` shape). None = unbounded — sound because
    * deleteWhere only ever INTERSECTS these bounds (a conjunct can
    * restrict the candidate set, never widen it). */
  def yearBound(f: Filter): Option[Set[Int]] = f match {
    case EqualTo("pt_year", v: java.lang.Integer) => Some(Set(v.intValue))
    // the static-partition-spec shape: Spark lowers `INSERT OVERWRITE
    // ... PARTITION (pt_year = k)` to a null-safe equality
    case EqualNullSafe("pt_year", v: java.lang.Integer) =>
      Some(Set(v.intValue))
    case In("pt_year", vs) =>
      val ints = vs.collect { case v: java.lang.Integer => v.intValue }
      if (ints.length == vs.length) Some(ints.toSet) else None
    case _ => None
  }
}

/** Pushdown surface of the connector.
  *
  *  - FILTERS: comparison filters on stat-indexed columns fold into
  *    per-column conjunctive [lo, hi] bounds used ONLY for manifest-
  *    stats FILE PRUNING (strict predicates conservatively widen to
  *    inclusive bounds); every filter is returned as a post-scan
  *    residual, so Spark re-evaluates exactly — pushdown can never
  *    change results, only the files opened. `pushedFilters` reports
  *    what pruning consumed (visible in explain).
  *  - COLUMNS: the required schema reaches the parquet reader as a
  *    real projection, so unprojected columns are never decoded —
  *    `SELECT k FROM …` reads one column's pages, the scan-efficiency
  *    contract a wide 100 TB table needs.
  *
  * The read version and its top manifest resolve ONCE per scan
  * ([[snap]]) and pass down to planning and the reader factory. */
private[sources] class SnapshotScanBuilder(root: String,
    full: StructType, startingVersion: Int,
    pinnedVersion: Option[Int] = None,
    ignoreDeletes: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  import org.apache.spark.sql.sources._

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // every residual conjunct: ParquetFilters' row-group skipping input
  private var residual: Array[Filter] = Array.empty

  /** The read version's top manifest: one listing (unpinned reads)
    * plus one manifest read for the whole scan. */
  private lazy val snap: SnapshotTable.Top = SnapshotTable.top(root,
    pinnedVersion.getOrElse(SnapshotTable.versions(root).max))
  // stat-shape conjuncts that stay RESIDUAL (file-level pruning only)
  private var statPushed: Array[Filter] = Array.empty
  private var ranges: Map[String, (Any, Any)] = Map.empty
  // pt_year partition conjuncts CONSUMED by exact partition pruning
  private var consumedYears: Option[Set[Int]] = None
  // every filter Spark handed pushFilters — a pushed LIMIT may bound
  // planned files by manifest row counts ONLY when nothing re-filters
  // rows after the scan
  private var sawFilters: Boolean = false
  private var limitHint: Option[Int] = None
  // Some(true) = take partitions in ASCENDING pt_year order first;
  // Some(false) = descending (ORDER BY pt_year [DESC] LIMIT n)
  private var topNAsc: Option[Boolean] = None

  /** LIMIT pushdown (`SELECT ... LIMIT n` with no filters): manifest
    * row counts bound the planned files to a PREFIX whose cumulative
    * rows reach n — a 100k-file table serves LIMIT 20 from one file.
    * Always PARTIAL (the prefix overshoots n; Spark keeps its Limit),
    * so correctness never depends on the bound. Refused whenever any
    * filter was offered (residual re-filtering means a prefix of raw
    * rows cannot bound filtered rows) — the plan-time DV/row-count
    * checks live in SnapshotScan, which drops the hint if the version
    * carries tombstones or unknown-row legacy entries. */
  override def pushLimit(n: Int): Boolean = {
    if (sawFilters || n <= 0) false
    else { limitHint = Some(n); true }
  }
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown for `ORDER BY pt_year [DESC] LIMIT n`: partitions
    * hold exactly their key, so taking whole partitions in key order
    * until cumulative rows reach n provably contains the global top-n
    * (every row of a later partition orders strictly after all taken
    * rows). Partial — Spark keeps its sort+limit. Any other ordering
    * refuses. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (sawFilters || n <= 0) return false
    orders.toSeq match {
      case Seq(o) => o.expression() match {
        case r: NamedReference
            if r.fieldNames.toSeq == Seq("pt_year") =>
          limitHint = Some(n)
          topNAsc = Some(o.direction() == SortDirection.ASCENDING)
          true
        case _ => false
      }
      case _ => false
    }
  }

  /** MANIFEST-ONLY AGGREGATION (the Iceberg/Delta stats-aggregate
    * optimization): `COUNT(*)` answers from per-file row counts
    * recorded at commit, `MIN(col)`/`MAX(col)` from per-file column
    * stats — zero data files (not even footers) open — grouped by
    * nothing or by the partition key, over the whole table or the
    * partitions a consumed pt_year conjunct selected. Refused —
    * falling back to a normal scan, which is always correct — when:
    *
    *  - any NON-partition filter was pushed (its pruning is file-
    *    granular, not exact — Spark normally never offers aggregates
    *    then, because such filters stay residual; guarded locally
    *    anyway);
    *  - the version carries deletion-vector tombstones (they subtract
    *    rows at read; manifests can't see them);
    *  - any in-scope entry predates row-count recording (COUNT), or
    *    lacks stats for the column (MIN/MAX — also the NaN shape:
    *    stats collection drops columns with NaN bounds, so a column
    *    whose true MAX is NaN under Spark's ordering never answers
    *    from stats);
    *  - the column's stats type and table type disagree, or the type
    *    is a string (footer stats of long strings may be truncated by
    *    other writers — integral/floating stats are always exact). */
  private def manifestAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Seq[Seq[Any]], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    if (statPushed.nonEmpty || ranges.nonEmpty) return None
    if (snap.dv.nonEmpty) return None

    def refName(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val grouped = agg.groupByExpressions.toSeq match {
      case Nil => false
      case Seq(g) if refName(g).contains("pt_year") => true
      case _ => return None
    }
    if (agg.aggregateExpressions.isEmpty) return None

    val liveYears = snap.pointers.keys.toSeq.sorted
    val years =
      consumedYears.fold(liveYears)(ys => liveYears.filter(ys.contains))
    val perYear = SnapshotTable.partitionStatEntries(snap.pointers, years)
      .filter(_._2.nonEmpty) // an empty group yields NO result row

    /** One aggregate over one entry scope; None = not answerable. */
    def eval(fn: org.apache.spark.sql.connector.expressions.aggregate
        .AggregateFunc, es: Seq[SnapshotTable.FileEntry]): Option[Any] =
      fn match {
        case _: CountStar =>
          if (es.forall(_.rows >= 0))
            Some(java.lang.Long.valueOf(es.map(_.rows).sum))
          else None
        // COUNT(col) = Σ (rows − recorded null count) — answerable
        // only when EVERY in-scope entry carries both (r16 blobs; an
        // all-null file drops its stats entirely and correctly
        // refuses)
        case c: Count if !c.isDistinct =>
          refName(c.column).flatMap { col =>
            val parts = es.map { e =>
              val nulls = SnapshotTable.decodeStats(e.stats)
                .get(col).map(_.nulls).getOrElse(-1L)
              (e.rows, nulls)
            }
            if (parts.forall { case (r, n) => r >= 0 && n >= 0 })
              Some(java.lang.Long.valueOf(
                parts.map { case (r, n) => r - n }.sum))
            else None
          }
        case m: Min => refName(m.column).flatMap(minMax(es, _, true))
        case m: Max => refName(m.column).flatMap(minMax(es, _, false))
        case _ => None
      }

    def minMax(es: Seq[SnapshotTable.FileEntry], col: String,
        wantMin: Boolean): Option[Any] = {
      if (es.isEmpty) return None
      val dt = full.find(_.name == col).map(_.dataType)
        .getOrElse(return None)
      val csBuf = Seq.newBuilder[SnapshotTable.ColStat]
      es.foreach { e =>
        SnapshotTable.decodeStats(e.stats).get(col) match {
          case None => return None // stats gap — the scan answers
          case Some(c) if c.min.isEmpty && c.max.isEmpty =>
            // bounds-less entry: contributes nothing to MIN/MAX but
            // only when PROVABLY all-null (nulls == rows) — an
            // ambiguous shape (e.g. an all-empty-string column
            // encodes identically) refuses instead
            if (!(c.nulls >= 0 && e.rows >= 0 && c.nulls == e.rows))
              return None
          case Some(c) => csBuf += c
        }
      }
      val cs = csBuf.result()
      // every in-scope file all-null → MIN/MAX is NULL; let the scan
      // answer rather than fabricating a typed NULL row here
      if (cs.isEmpty) return None
      cs.head.typ match {
        case 'L' =>
          val vs = cs.map(c => (if (wantMin) c.min else c.max).toLong)
          val x = if (wantMin) vs.min else vs.max
          dt match {
            case LongType => Some(java.lang.Long.valueOf(x))
            case IntegerType | DateType =>
              Some(Integer.valueOf(x.toInt))
            case ShortType => Some(java.lang.Short.valueOf(x.toShort))
            case ByteType => Some(java.lang.Byte.valueOf(x.toByte))
            case _ => None
          }
        case 'D' =>
          val vs = cs.map(c => (if (wantMin) c.min else c.max).toDouble)
          val x = if (wantMin) vs.min else vs.max
          dt match {
            case DoubleType => Some(java.lang.Double.valueOf(x))
            case FloatType => Some(java.lang.Float.valueOf(x.toFloat))
            case _ => None
          }
        case _ => None // 'S': possible truncation — never push strings
      }
    }

    def fieldOf(fn: org.apache.spark.sql.connector.expressions.aggregate
        .AggregateFunc): Option[StructField] = fn match {
      case _: CountStar =>
        Some(StructField("count", LongType, nullable = false))
      case c: Count if !c.isDistinct => refName(c.column).map(n =>
        StructField(s"count($n)", LongType, nullable = false))
      case m: Min => refName(m.column).flatMap(c =>
        full.find(_.name == c).map(f => StructField(s"min($c)",
          f.dataType)))
      case m: Max => refName(m.column).flatMap(c =>
        full.find(_.name == c).map(f => StructField(s"max($c)",
          f.dataType)))
      case _ => None
    }

    val fns = agg.aggregateExpressions.toSeq
    val fields = fns.map(fieldOf)
    if (fields.exists(_.isEmpty)) return None

    val rows: Option[Seq[Seq[Any]]] =
      if (grouped) {
        val rs = perYear.map { case (y, es) =>
          val vals = fns.map(eval(_, es))
          if (vals.exists(_.isEmpty)) None
          else Some(Integer.valueOf(y) +: vals.map(_.get))
        }
        if (rs.exists(_.isEmpty)) None else Some(rs.map(_.get))
      } else {
        val es = perYear.flatMap(_._2)
        // MIN/MAX over zero files is NULL — only the pure-count shape
        // answers an empty scope (count 0)
        if (es.isEmpty && fns.exists(!_.isInstanceOf[CountStar])) None
        else {
          val vals = fns.map(eval(_, es))
          if (vals.exists(_.isEmpty)) None else Some(Seq(vals.map(_.get)))
        }
      }

    rows.map { rs =>
      val schema = StructType(
        (if (grouped)
          Seq(StructField("pt_year", IntegerType, nullable = false))
        else Nil) ++ fields.map(_.get))
      val isCountOnly = fns.forall(_.isInstanceOf[CountStar])
      val desc =
        if (!grouped && isCountOnly && fns.length == 1)
          s"COUNT(*)=${rs.head.head} from manifest row counts"
        else if (grouped && isCountOnly && fns.length == 1)
          "COUNT(*) GROUP BY pt_year from manifest row counts " +
            s"(${rs.size} groups)"
        else
          fns.map {
            case _: CountStar => "COUNT(*)"
            case c: Count => s"COUNT(${refName(c.column).get})"
            case m: Min => s"MIN(${refName(m.column).get})"
            case m: Max => s"MAX(${refName(m.column).get})"
            case o => o.toString
          }.mkString("", ", ",
            (if (grouped) " GROUP BY pt_year" else "") +
              " from manifest stats")
      (schema, rs, desc)
    }
  }

  private var pushedAgg: Option[(StructType, Seq[Seq[Any]], String)] =
    None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = manifestAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    // accept ONLY complete pushdown: these are final values, not
    // partials for Spark to re-aggregate
    pushedAgg = manifestAgg(agg)
    pushedAgg.isDefined
  }

  private def comparable(v: Any): Boolean = v match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte | _: String => true
    // NaN must NOT become a pruning bound: Spark orders NaN greatest
    // and equal to itself, but the stats comparison is IEEE (`NaN >=
    // min` is false), which would prune EVERY file and lose rows the
    // residual filter can never recover. Non-finite bounds fall back
    // to unpruned scans (manifest stats never record non-finite
    // values, so infinities can't prune usefully either).
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case f: java.lang.Float => !f.isNaN && !f.isInfinite
    case _ => false
  }

  private def tighten(c: String, lo: Any, hi: Any): Unit = {
    // keep the NEWEST bound per side: all pushed conjuncts re-apply
    // post-scan, so any sound bound works — last-write is sound
    val (l0, h0) = ranges.getOrElse(c, (null, null))
    ranges += c -> (if (lo != null) lo else l0, if (hi != null) hi else h0)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // pt_year partition conjuncts (=, <=>, IN over ints) are CONSUMED
    // — partition manifests are keyed by pt_year and every row in a
    // partition's files carries exactly that key, so selecting the
    // named partitions IS the filter, exactly (Spark drops the
    // residual, which is what lets it offer aggregate pushdown on
    // partition-scoped queries). Everything else stays residual:
    // its stat-range pruning is file-granular, not exact.
    val (yearFs, rest) = filters.partition {
      // isnotnull(pt_year) — Spark's inferred companion of every
      // pt_year conjunct — consumes as a NO-OP: the partition key is
      // non-null on every stored row by construction (write paths
      // reject NULL pt_year loudly), and leaving it residual would
      // block aggregate pushdown on partition-scoped queries
      case IsNotNull("pt_year") => true
      case f => SnapshotFilters.yearBound(f).isDefined
    }
    yearFs.foreach { f =>
      SnapshotFilters.yearBound(f).foreach { ys =>
        consumedYears = Some(consumedYears.fold(ys)(_.intersect(ys)))
      }
    }
    statPushed = rest.filter {
      case EqualTo(c, v) if comparable(v) => tighten(c, v, v); true
      case GreaterThan(c, v) if comparable(v) => tighten(c, v, null); true
      case GreaterThanOrEqual(c, v) if comparable(v) =>
        tighten(c, v, null); true
      case LessThan(c, v) if comparable(v) => tighten(c, null, v); true
      case LessThanOrEqual(c, v) if comparable(v) =>
        tighten(c, null, v); true
      // IS NULL prunes every file whose stats RECORD zero nulls;
      // IS NOT NULL prunes provably-all-null files (r16 null counts)
      // — both stay residual like every stat shape
      case IsNull(c) => nullScan = nullScan :+ c; true
      case IsNotNull(c) => notNullScan = notNullScan :+ c; true
      case _ => false
    }
    pushed = yearFs ++ statPushed
    residual = rest
    // consumed pt_year conjuncts are exact (no post-scan re-filter),
    // so they don't block LIMIT bounding; residuals do
    sawFilters = rest.nonEmpty
    rest // non-partition filters re-evaluate post-scan
  }

  private var nullScan: Seq[String] = Nil
  private var notNullScan: Seq[String] = Nil

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows, desc)) =>
      new SnapshotMetaAggScan(root, schema, rows, desc)
    case None => new SnapshotScan(root, required, snap,
      startingVersion,
      ranges.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) },
      pinnedVersion, ignoreDeletes, maxVersionsPerTrigger,
      maxBytesPerTrigger, consumedYears, nullScan, notNullScan,
      limitHint, topNAsc, residual)
  }
}

/** A completely-pushed manifest aggregation result: its rows were
  * resolved from manifest metadata at PLAN time (COUNT from recorded
  * row counts, MIN/MAX from recorded column stats), so the "scan" is
  * one partition serving a handful of literal rows. Values are boxed
  * Spark-internal primitives (int/long/double/float/short/byte) —
  * string aggregates are never pushed. */
private[sources] class SnapshotMetaAggScan(root: String,
    schema: StructType, rows: Seq[Seq[Any]], desc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"graft-snapshot $root $desc"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotMetaAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it =
            p.asInstanceOf[SnapshotMetaAggPartition].rows.iterator
          private var cur: Seq[Any] = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow =
            new GenericInternalRow(cur.toArray)
          override def close(): Unit = ()
        }
    }
}

private[sources] case class SnapshotMetaAggPartition(
    rows: Seq[Seq[Any]]) extends InputPartition

private[graft] object SnapshotScan {
  /** root → the most recent BATCH plan's effective pt_year scope
    * (None = unscoped, whole table). Written at planInputPartitions
    * time after any runtime (DPP) narrowing — the observability hook
    * plan-assertion specs use to pin that a star join planned ONLY
    * the matching partitions. Driver-side only. */
  private[graft] val lastPlannedYears =
    scala.collection.concurrent.TrieMap[String, Option[Seq[Int]]]()

  /** root → how many files the most recent batch plan actually
    * planned (post pruning, runtime filtering, and LIMIT bounding). */
  private[graft] val lastPlannedFiles =
    scala.collection.concurrent.TrieMap[String, Int]()
}

private[sources] class SnapshotScan(root: String, schema: StructType,
    snap: SnapshotTable.Top,
    startingVersion: Int,
    ranges: Seq[(String, Any, Any)] = Nil,
    pinnedVersion: Option[Int] = None,
    ignoreDeletes: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    years: Option[Set[Int]] = None,
    nullCols: Seq[String] = Nil,
    notNullCols: Seq[String] = Nil,
    limitHint: Option[Int] = None,
    topNAsc: Option[Boolean] = None,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}

  override def readSchema(): StructType = schema

  /** Join-driven runtime partition pruning (DPP) on the ORDINARY batch
    * scan — the Delta/Iceberg star-schema shape: `fact ⋈ dim ON
    * fact.pt_year = dim.y WHERE dim.<selective>` runs the dim side
    * first (reusing its broadcast exchange) and hands the surviving
    * keys here as `pt_year IN (...)`; only the matching partitions'
    * files are planned, so a selective dim predicate turns a 100 TB
    * full-table scan into a few partitions' worth of reads. Purely an
    * optimization: the join re-evaluates every surviving row, and
    * unparseable predicates narrow nothing (sound). Batch-only —
    * Spark never runtime-filters a MicroBatchStream. */
  @volatile private var runtimeYears: Option[Set[Int]] = None

  // only a scan that OUTPUTS pt_year can be runtime-filtered on it:
  // Spark resolves these names against the scan's output, so a
  // pruned-away pt_year (an insert-only MERGE's anti-join side reads
  // just the key) must not be offered
  override def filterAttributes(): Array[NamedReference] =
    if (schema.fieldNames.contains("pt_year"))
      Array(Expressions.column("pt_year"))
    else Array.empty

  override def filter(predicates: Array[VPredicate]): Unit =
    predicates.foreach { p =>
      SnapshotRuntime.years(p).foreach { in =>
        runtimeYears = Some(runtimeYears.fold(in)(_.intersect(in)))
      }
    }

  /** Static consumed pt_year conjuncts ∩ runtime (DPP) keys. */
  private def effectiveYears: Option[Set[Int]] = (years, runtimeYears) match {
    case (Some(a), Some(b)) => Some(a.intersect(b))
    case (a, b) => a.orElse(b)
  }

  /** ranges + null-count pruning, the file-level skip test. */
  private def entrySurvives(e: SnapshotTable.FileEntry): Boolean =
    SnapshotTable.entryMatches(e, ranges) &&
      nullCols.forall(SnapshotTable.entryCanHaveNull(e, _)) &&
      notNullCols.forall(SnapshotTable.entryCanHaveValue(e, _))
  override def description(): String =
    s"graft-snapshot $root " +
      years.fold("")(ys =>
        s"partitions=${ys.toSeq.sorted.mkString(",")} ") +
      pinnedVersion.fold(s"from v$startingVersion")(v => s"@v$v") +
      (if (ranges.isEmpty) ""
       else ranges.map { case (c, lo, hi) => s"$c in [$lo, $hi]" }
         .mkString(" pruned by ", " and ", "")) +
      limitHint.fold("")(n => s" limit=$n" + topNAsc.fold("")(a =>
        if (a) " by pt_year" else " by pt_year desc"))

  // the pushed residual filters ride to the reader too: manifest
  // stats prune FILES here at plan time, Spark's ParquetFilters prune
  // ROW GROUPS inside the survivors executor-side. The row-level
  // rewrite scan (SnapshotGroupScan) deliberately does NOT do this —
  // it must materialize every row of a matched group, non-matching
  // rows included, because the replacement write copies them.
  private def readerFactory(withDv: Boolean): PartitionReaderFactory =
    SnapshotReaderFactory(SparkSession.active, schema,
      snap.schema.getOrElse(schema),
      if (withDv) snap.dv.map(d => (d._1, d._2)) else None, filters)

  /** A version's in-scope entries: every partition's, or exactly the
    * partitions a consumed pt_year conjunct selected (EXACT pruning —
    * a partition's files hold only rows with its key, so no residual
    * re-filter is needed or kept). */
  private def scopedByYear: Seq[(Int, Seq[SnapshotTable.FileEntry])] = {
    val ys = effectiveYears match {
      case None => snap.pointers.keys.toSeq.sorted
      case Some(s) => s.toSeq.sorted
    }
    SnapshotTable.partitionStatEntries(snap.pointers, ys)
  }

  /** Pushed-LIMIT/TopN file bounding: with no residual filters (the
    * builder's push precondition) and no pending tombstones, a file
    * PREFIX whose recorded row counts reach n provably contains n
    * rows — Spark's own Limit (and sort, for TopN) still runs on top,
    * so skipping the bound is always sound and taking it never
    * changes results. TopN orders whole partitions by pt_year first
    * (rows of a later partition order strictly after every taken
    * row); unknown-row legacy entries refuse the bound. */
  private def boundByLimit(
      perYear: Seq[(Int, Seq[SnapshotTable.FileEntry])],
      dvPresent: Boolean): Seq[SnapshotTable.FileEntry] = {
    val ordered = topNAsc match {
      case Some(false) => perYear.sortBy(-_._1).flatMap(_._2)
      case _ => perYear.flatMap(_._2) // already ascending-year order
    }
    limitHint match {
      case Some(n) if !dvPresent && ordered.forall(_.rows >= 0) =>
        var acc = 0L
        val out = Seq.newBuilder[SnapshotTable.FileEntry]
        val it = ordered.iterator
        while (acc < n && it.hasNext) {
          val e = it.next(); out += e; acc += e.rows
        }
        out.result()
      case _ => ordered
    }
  }

  /** Batch read = the pinned version's (VERSION AS OF / versionAsOf)
    * or the HEAD's file list, manifest-stat-pruned by the pushed
    * ranges. A version with pending deletion vectors ships the
    * tombstone sidecar to every reader (executor-side hash filter,
    * JVM-cached) so merge-on-read deletes hold through SQL too. */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      SnapshotScan.lastPlannedYears(root) =
        effectiveYears.map(_.toSeq.sorted)
      val survivors = scopedByYear.map { case (y, es) =>
        y -> es.filter(entrySurvives)
      }
      val planned = boundByLimit(survivors, snap.dv.nonEmpty)
      SnapshotScan.lastPlannedFiles(root) = planned.size
      SnapshotSplits.plan(planned)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      readerFactory(withDv = true)
  }

  override def toMicroBatchStream(ckpt: String): MicroBatchStream = {
    require(pinnedVersion.isEmpty,
      "a VERSION AS OF read is a batch snapshot — streams follow head")
    new SnapshotMicroBatchStream(root, startingVersion,
      readerFactory(withDv = false),
      ranges, ignoreDeletes, maxVersionsPerTrigger, maxBytesPerTrigger,
      years, nullCols, notNullCols)
  }
}

/** Stream position: versions BELOW `v` fully served, plus the first
  * `idx` fresh files of version v (file-granular admission control
  * splits a fat version across triggers). Serialized `v:idx`; a bare
  * integer `n` (pre-r14 checkpoints, whose meaning was "fully served
  * THROUGH n") deserializes to `(n+1, 0)` — old checkpoints resume
  * unchanged. */
private[sources] case class VersionOffset(v: Int, idx: Int = 0)
    extends Offset {
  override def json(): String = s"$v:$idx"
}

private[sources] object VersionOffset {
  def parse(json: String): VersionOffset = json.split(':') match {
    case Array(v, i) => VersionOffset(v.toInt, i.toInt)
    case Array(v) => VersionOffset(v.toInt + 1, 0) // legacy inclusive
  }
}

/** The stream half of the connector. ADMISSION CONTROL (Delta's
  * maxFilesPerTrigger analog) comes in two grains:
  *
  *  - `maxVersionsPerTrigger` (version-granular): each trigger admits
  *    at most that many versions past the last committed offset, so a
  *    backfill of a years-deep table becomes a paced sequence of
  *    bounded micro-batches instead of ONE batch holding the entire
  *    history;
  *  - `maxBytesPerTrigger` (file-granular, r14): a single FAT version
  *    — a 10 TB backfill commit — splits across triggers at file
  *    boundaries (byte sizes come from the manifest, zero filesystem
  *    metadata reads), the offset advancing through the version as
  *    `v:fileIdx`. At least one file always admits (progress
  *    guarantee); exactly-once holds because the fresh-file list of a
  *    committed version is immutable and deterministically ordered.
  *
  * Both compose with Trigger.AvailableNow (Spark iterates bounded
  * batches until the captured head is reached) and with each other
  * (versions cap the stride, bytes cap within it). */
private[sources] class SnapshotMicroBatchStream(root: String,
    startingVersion: Int, factory: PartitionReaderFactory,
    ranges: Seq[(String, Any, Any)] = Nil,
    ignoreDeletes: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    years: Option[Set[Int]] = None,
    nullCols: Seq[String] = Nil,
    notNullCols: Seq[String] = Nil)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  override def initialOffset(): Offset = VersionOffset(startingVersion, 0)

  /** The fully-caught-up position: everything below head+1 served. */
  private def headPosition(head: Int): VersionOffset =
    VersionOffset(head + 1, 0)

  override def latestOffset(): Offset =
    headPosition(SnapshotTable.versions(root).max)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // Trigger.AvailableNow's contract: pin the head at query start, run
  // PACED batches up to exactly that bound (commits racing the drain
  // wait for the next run), terminate when the bound is reached
  private var availableNowBound: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(SnapshotTable.versions(root).max)

  /** Bounded progress from `start` (the last committed offset): at
    * most maxVersionsPerTrigger versions, at most maxBytesPerTrigger
    * manifest bytes (≥1 file), whichever binds first. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = availableNowBound
      .getOrElse(SnapshotTable.versions(root).max)
    val s = start.asInstanceOf[VersionOffset]
    if (s.v > head) return s // caught up (canonical: idx always valid)
    val vCap = maxVersionsPerTrigger
      .map(m => math.min(head, s.v + math.max(m, 1) - 1))
      .getOrElse(head)
    maxBytesPerTrigger match {
      case None => headPosition(vCap)
      case Some(budget) =>
        // walk the manifest byte sizes file-by-file; stop AFTER the
        // file that exhausts the budget (≥1 file per trigger)
        var v = s.v
        var idx = s.idx
        var spent = 0L
        var admitted = 0
        var done = false
        while (!done && v <= vCap) {
          val fresh = freshEntries(v)
          if (idx >= fresh.size) { v += 1; idx = 0 }
          else {
            spent += fresh(idx).bytes
            idx += 1
            admitted += 1
            if (spent >= budget) done = true
          }
        }
        if (v > vCap) headPosition(vCap)
        else if (idx >= freshEntries(v).size) VersionOffset(v + 1, 0)
        else VersionOffset(v, idx)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  /** Version v's fresh entries: the manifest diff against its parent —
    * metadata only, DETERMINISTICALLY ordered (partition manifests are
    * path-sorted per year, years sorted), so a file-granular offset
    * into the list is stable across restarts (a consumed-pt_year scope
    * keeps an ordered SUBSEQUENCE, and the scope is fixed by the
    * query's own filter, so offsets stay stable too). v = 0
    * contributes its full list. */
  private def freshEntries(v: Int) = {
    val cur = years match {
      case None => SnapshotTable.statEntries(root, v)
      case Some(ys) =>
        SnapshotTable.partitionStatEntries(root, v, ys.toSeq.sorted)
          .flatMap(_._2)
    }
    if (v == 0) cur
    else {
      val parent = SnapshotTable.files(root, v - 1).toSet
      cur.filterNot(e => parent.contains(e.path))
    }
  }

  /** Delete-commit detection must see the UNSCOPED diff: a commit
    * that appends files only to out-of-scope partitions while moving
    * the deletion vector is not a pure delete (same semantics as the
    * unscoped stream). */
  private def freshAnywhere(v: Int): Boolean = years match {
    case None => true // caller already has the unscoped list
    case Some(_) =>
      val cur = SnapshotTable.statEntries(root, v)
      if (v == 0) cur.nonEmpty
      else {
        val parent = SnapshotTable.files(root, v - 1).toSet
        cur.exists(e => !parent.contains(e.path))
      }
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset]
    val e = end.asInstanceOf[VersionOffset]
    val entries = (s.v to e.v).flatMap { v =>
      if (v == e.v && e.idx == 0) Seq.empty // end is exclusive here
      else {
        val fresh = freshEntries(v)
        // a PURE delete commit (deletion vector moved, zero fresh
        // files) removes rows an append stream has already emitted —
        // fail loudly unless the consumer opted in, Delta's
        // ignoreDeletes contract (a REWRITE that purges re-emits its
        // partition and is covered by ignoreChanges semantics instead)
        if (!ignoreDeletes && fresh.isEmpty && v > 0 &&
            !(years.isDefined && freshAnywhere(v)) &&
            SnapshotTable.dvOf(root, v) != SnapshotTable.dvOf(root, v - 1))
          throw new IllegalStateException(
            s"version $v of $root is a delete commit; an append stream " +
            "cannot represent it — set .option(\"ignoreDeletes\", " +
            "\"true\") to skip delete commits, or consume the change " +
            "feed instead")
        val from = if (v == s.v) s.idx else 0
        val to = if (v == e.v) e.idx else fresh.size
        fresh.slice(from, to)
          .filter(e => SnapshotTable.entryMatches(e, ranges) &&
            nullCols.forall(SnapshotTable.entryCanHaveNull(e, _)) &&
            notNullCols.forall(SnapshotTable.entryCanHaveValue(e, _)))
      }
    }
    SnapshotSplits.plan(entries)
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One scan task: a byte range of one data file of `bytes` bytes (the
  * manifest's recorded size — the reader locates the footer with it,
  * no stat call). Whole-file reads are `[0, Long.MaxValue)`; a SPLIT
  * file carries `[start, end)` and the reader serves exactly the
  * parquet ROW GROUPS whose byte midpoint falls inside the range (the
  * midpoint rule of Spark's FilePartition) — disjoint ranges covering
  * the file therefore partition its row groups exactly, with no row
  * read twice and none lost. */
private[sources] case class SnapshotFilePartition(path: String,
    bytes: Long, start: Long = 0L, end: Long = Long.MaxValue,
    born: Long = -1L) extends InputPartition

/** Byte-range SPLIT PLANNING for connector scans — Spark's own
  * `FilePartition.maxSplitBytes` policy re-derived over the MANIFEST's
  * recorded byte sizes, so planning makes zero filesystem metadata
  * calls: target = max(openCost, min(maxPartitionBytes,
  * totalWork / defaultParallelism)). Without this, read parallelism is
  * capped by FILE COUNT — a partition compacted to one large file
  * would scan on ONE core (the r14 sf10 probe measured exactly that:
  * super-linear whole-table read-backs through per-file partitions).
  * The last split of a file extends to Long.MaxValue so coverage holds
  * even if trailing bytes round past the recorded size. Splits land
  * meaningfully because every snapshot write path bounds row groups at
  * [[graft.operators.WriteOps.SnapshotTable.rowGroupBytes]] (16 MB). */
private[sources] object SnapshotSplits {
  import graft.operators.WriteOps.SnapshotTable.FileEntry

  private def bytesConf(s: SparkSession, key: String, dflt: Long): Long =
    try org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(s.conf.get(key, dflt.toString))
    catch { case _: Exception => dflt }

  def targetSplitBytes(s: SparkSession,
      entries: Seq[FileEntry]): Long = {
    val maxBytes =
      bytesConf(s, "spark.sql.files.maxPartitionBytes", 128L << 20)
    val openCost =
      bytesConf(s, "spark.sql.files.openCostInBytes", 4L << 20)
    val total =
      entries.iterator.map(e => math.max(e.bytes, 0L) + openCost).sum
    val perCore =
      total / math.max(1, s.sparkContext.defaultParallelism)
    math.max(1L, math.max(openCost, math.min(maxBytes, perCore)))
  }

  /** Entries → input partitions, splitting files above the target.
    * The target is FLOORED at the configured row-group byte bound:
    * a split smaller than one row group can never hold a group's
    * midpoint, so sub-row-group targets would plan EMPTY tasks over
    * files written with larger groups (legacy pre-r15 files carry
    * ~128 MB groups) — correct but skewed parallelism. Files written
    * under a DIFFERENT override than the current conf can still plan
    * empty splits; those tasks open only the footer and cost ~ms. */
  def plan(entries: Seq[FileEntry]): Array[InputPartition] = {
    val session = SparkSession.active
    val floor = graft.operators.WriteOps.SnapshotTable.rowGroupBytes(
      session.sparkContext.hadoopConfiguration)
    val target = math.max(targetSplitBytes(session, entries), floor)
    entries.iterator.flatMap { e0 =>
      // an entry from before sizes were recorded stats its file once
      val e = if (e0.bytes >= 0) e0 else {
        val p = new HPath(e0.path)
        e0.copy(bytes = p.getFileSystem(session.sparkContext
          .hadoopConfiguration).getFileStatus(p).getLen)
      }
      if (e.bytes <= target)
        Iterator(SnapshotFilePartition(e.path, e.bytes, born = e.born))
      else {
        val n = ((e.bytes + target - 1) / target).toInt
        (0 until n).iterator.map { i =>
          val st = i.toLong * target
          SnapshotFilePartition(e.path, e.bytes, st,
            if (i == n - 1) Long.MaxValue else st + target, e.born)
        }
      }
    }.map(p => p: InputPartition).toArray
  }
}

/** Per-JVM cache of deletion-vector tombstone sets, keyed by sidecar
  * path — executors load each sidecar once however many file
  * partitions they read. Entries are (normalized key, pt_year).
  * Path-keyed memoization is SOUND because committed sidecar paths are
  * token-uniquified (`_dv/v<N>-<token>`, see SnapshotTable's
  * freshDvPath): a path, once referenced by a manifest, never holds
  * different bytes — a re-created table at the same root or a retried
  * delete-commit lands at a fresh token, never a reused path. Stale
  * entries for vacuumed sidecars are dead weight, not wrong answers
  * (their paths are never served again). */
private[sources] object DvCache {
  private val cache =
    scala.collection.concurrent.TrieMap[String, Map[(Any, Int), Long]]()

  /** (normalized key, pt_year) → the MAX `__below` of its tombstone
    * generations: a row dies iff that value exceeds its file's born.
    * Sidecars written before the birth-aware format lack `__below`
    * and load as Long.MaxValue (apply to every file — the historical
    * semantics, sound because appends into DV-pending partitions
    * were refused). */
  def tombstones(dvPath: String, keyCol: String, tag: Char,
      conf: org.apache.hadoop.conf.Configuration): Map[(Any, Int), Long] =
    cache.getOrElseUpdate(dvPath, {
      import org.apache.parquet.hadoop.ParquetReader
      import org.apache.parquet.hadoop.example.GroupReadSupport
      val dir = new HPath(dvPath)
      val fs = dir.getFileSystem(conf)
      val parts = fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      val out = scala.collection.mutable.HashMap[(Any, Int), Long]()
      parts.foreach { p =>
        val rd = ParquetReader.builder(new GroupReadSupport(), p)
          .withConf(conf).build()
        try {
          var g = rd.read()
          while (g != null) {
            val gt = g.getType
            val ki = gt.getFieldIndex(keyCol)
            val yi = gt.getFieldIndex("pt_year")
            val key: Any = tag match {
              case 'S' => new String(g.getBinary(ki, 0).getBytes,
                java.nio.charset.StandardCharsets.UTF_8)
              case 'D' => g.getDouble(ki, 0)
              case _ =>
                if (gt.getType(ki).asPrimitiveType().getPrimitiveTypeName
                    == org.apache.parquet.schema.PrimitiveType
                      .PrimitiveTypeName.INT32) g.getInteger(ki, 0).toLong
                else g.getLong(ki, 0)
            }
            val below =
              if (gt.containsField("__below") &&
                  g.getFieldRepetitionCount(
                    gt.getFieldIndex("__below")) > 0)
                g.getLong(gt.getFieldIndex("__below"), 0)
              else Long.MaxValue
            val kk = (key, g.getInteger(yi, 0))
            val prev = out.getOrElse(kk, Long.MinValue)
            if (below > prev) out(kk) = below
            g = rd.read()
          }
        } finally rd.close()
      }
      out.toMap
    })
}
