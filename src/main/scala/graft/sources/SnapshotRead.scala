package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.operators.WriteOps.SnapshotTable

/** A DataFrame over one snapshot state — a published version's or a
  * staged branch's [[SnapshotTable.Top]] — planned through the
  * connector: a DSv2 relation over [[SnapshotSourceTable]] pinned to
  * `top`, so every DataFrame read of a snapshot table plans the same
  * [[SnapshotScan]] SQL does (manifest pruning, pushdown, and the
  * tombstone and alias rules of [[SnapshotReaderFactory]]). `files`
  * restricts the read to explicit manifest entries per year. */
private[graft] object SnapshotFrame {
  def apply(s: SparkSession, root: String, top: SnapshotTable.Top,
      files: Option[Seq[(Int, Seq[SnapshotTable.FileEntry])]] = None)
      : DataFrame = {
    val schema = top.schema.getOrElse(throw new IllegalStateException(
      s"version ${top.version} of $root records no schema"))
    GraftColumnBridge.frame(s, DataSourceV2Relation.create(
      new SnapshotSourceTable(schema, root, Some(top), files), None, None))
  }
}

/** The connector's per-file read: Spark's own v2 parquet reader
  * factory (`ParquetPartitionReaderFactory`, taken from a `ParquetScan`
  * over an empty file index — the files come from the manifest, one
  * per input partition) does the decoding — vectorized or row,
  * column pruning, row-group skipping by stats, dictionary and bloom
  * filter through `ParquetFilters`, byte-range splits, null-fill for
  * files that predate a column, int→long and float→double widening.
  * This wrapper keeps the two snapshot rules that reader lacks:
  *
  *  - MERGE-ON-READ tombstones: a row dies when its (key, pt_year)
  *    tombstone's `__below` exceeds its file's `born` ([[DvCache]]).
  *    The key and pt_year are read even when the query omits them,
  *    then projected away.
  *  - `ALTER COLUMN RENAME` aliases: every name of a column's alias
  *    chain is read and the first non-null wins (a row carries a value
  *    under exactly one generation's name, since files are
  *    single-generation).
  *
  * A read that needs neither passes through to the delegate unchanged,
  * columnar batches included. */
private[sources] class SnapshotReaderFactory(
    parquet: ParquetPartitionReaderFactory,
    out: StructType,
    logical: StructType,
    chains: Array[Array[Int]],
    dv: Option[SnapshotTable.Dv]) extends PartitionReaderFactory {

  private val aliased = chains.exists(_.length > 1)
  private val passThrough = dv.isEmpty && !aliased

  private def fileOf(p: InputPartition): FilePartition = {
    val fp = p.asInstanceOf[SnapshotFilePartition]
    val end = math.min(fp.end, fp.bytes)
    FilePartition(0, Array(PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new HPath(fp.path)), fp.start,
      math.max(0L, end - fp.start), fileSize = fp.bytes)))
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    passThrough && parquet.supportColumnarReads(fileOf(p))

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] =
    parquet.createColumnarReader(fileOf(p))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = parquet.createReader(fileOf(p))
    if (passThrough) in
    else new PartitionReader[InternalRow] {
      // raw read row (alias chains side by side) → logical row
      private val merge =
        if (!aliased) None
        else Some(UnsafeProjection.create(
          logical.fields.toSeq.zip(chains).map { case (f, js) =>
            val refs = js.toSeq.map(BoundReference(_, f.dataType, true))
            if (refs.length == 1) refs.head else Coalesce(refs)
          }))
      // logical row → the scan's output (drops the DV-only columns)
      private val trim =
        if (logical.length == out.length) None
        else Some(UnsafeProjection.create(out.fields.toSeq.zipWithIndex
          .map { case (f, i) => BoundReference(i, f.dataType, true) }))
      private val born = p.asInstanceOf[SnapshotFilePartition].born
      private val tombstoned: InternalRow => Boolean = dv match {
        case None => _ => false
        case Some(d) =>
          val ki = logical.fieldIndex(d.key)
          val yi = logical.fieldIndex("pt_year")
          val keyType = logical(ki).dataType
          val doomed = DvCache.tombstones(d, keyType match {
            case StringType => 'S'
            case DoubleType | FloatType => 'D'
            case _ => 'L'
          }, parquet.broadcastedConf.value.value)
          row => !row.isNullAt(ki) && !row.isNullAt(yi) && {
            val key: Any = keyType match {
              case StringType => row.getUTF8String(ki).toString
              case DoubleType => row.getDouble(ki)
              case FloatType => row.getFloat(ki).toDouble
              case IntegerType => row.getInt(ki).toLong
              case ShortType => row.getShort(ki).toLong
              case ByteType => row.getByte(ki).toLong
              case _ => row.getLong(ki)
            }
            doomed.getOrElse((key, row.getInt(yi)), Long.MinValue) > born
          }
      }
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val row = merge.fold(in.get())(_(in.get()))
          if (!tombstoned(row)) {
            cur = trim.fold(row)(_(row))
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
  }
}

private[sources] object SnapshotReaderFactory {
  /** The reader of `out` (the scan's output columns) under the read
    * version's recorded `table` schema: alias chains come from its
    * field metadata, the DV key's type from its fields. `dv` is the
    * version's deletion vector when tombstones apply. `filters` reach
    * `ParquetFilters` for row-group skipping only — every one stays
    * residual in Spark, so they never change results. */
  def apply(s: SparkSession, out: StructType, table: StructType,
      dv: Option[SnapshotTable.Dv],
      filters: Array[Filter]): SnapshotReaderFactory = {
    val extras = dv.toSeq.flatMap(d => Seq(d.key, "pt_year"))
      .distinct.filterNot(out.fieldNames.contains)
      .map(n => table.find(_.name == n).getOrElse(StructField(n,
        if (n == "pt_year") IntegerType else LongType)))
    val logical = StructType(out.fields ++ extras)
    val aliases = SnapshotTable.colAliases(table)
    val names =
      logical.fields.map(f => f.name +: aliases.getOrElse(f.name, Nil))
    val starts = names.map(_.length).scanLeft(0)(_ + _)
    val chains = names.indices.map(i =>
      (starts(i) until starts(i + 1)).toArray).toArray
    val raw = StructType(logical.fields.zip(names).flatMap { case (f, ns) =>
      ns.map(n => f.copy(name = n, nullable = true))
    })
    val parquet = ParquetScan(s, s.sessionState.newHadoopConf(),
      new InMemoryFileIndex(s, Nil, Map.empty, Some(new StructType())),
      raw, raw, new StructType(), filters,
      CaseInsensitiveStringMap.empty()).createReaderFactory()
      .asInstanceOf[ParquetPartitionReaderFactory]
    new SnapshotReaderFactory(parquet, out, logical, chains, dv)
  }
}
