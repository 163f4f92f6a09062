package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata star schema (TESTDATA.md).
  *
  * All catalog queries take `(SparkSession, sfDir)` and read parquet
  * directly — at cluster scale these would be catalog tables; the scan
  * path (vectorized parquet + pushdown + pruning) is identical.
  */
object Tables {
  // Per-(session, path) parquet schema memo (r18): a bare
  // spark.read.parquet infers the schema by reading a footer — a
  // one-task Spark job (~30 ms; a per-gate job profile showed
  // "parquet at Tables.scala" at the head of nearly every gate
  // invocation, and a gate touches 1–3 source tables). The fixture files are immutable,
  // so infer once per (session, path) and plan every later read with
  // the recorded schema — schema-as-metadata, exactly what a catalog
  // table provides (the scaladoc above already declares these reads
  // stand in for catalog tables). Keyed on the session OBJECT (the
  // SessionMemo discipline — identity hashes can collide); entries die
  // with their session via the stopped-context sweep. Pushdown,
  // pruning and vectorization are untouched — same scan node, the
  // schema simply arrives without the inference job.
  private val schemaMemo = scala.collection.concurrent.TrieMap[
    (SparkSession, String), org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaMemo.keySet.foreach { case k @ (s0, _) =>
      if (s0.sparkContext.isStopped) schemaMemo.remove(k)
    }
    val schema = schemaMemo.getOrElseUpdate((spark, path),
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The engine's content-stable hash bucket — the cross-engine
    * contract every sampling/split gate shares (DuckDB mirror:
    * `cast(('0x' || substr(md5(<key>), 1, 8)) as bigint) % mod`).
    * First 8 hex chars of md5 → non-negative 32-bit value → mod.
    * Single-sourced so a typo can't silently break engine parity in
    * one gate. */
  private[graft] def md5Bucket(key: org.apache.spark.sql.Column,
      mod: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % mod
  }

  /** Target rows per task for CPU-bound per-document kernels (BPE
    * apply, regex scrubs, Gopher signals…). Small enough that a
    * corpus-scale fixture fans to the full session width, large enough
    * that a tiny fixture doesn't pay task-launch overhead per
    * sub-millisecond slice. */
  private[graft] val TEXT_ROWS_PER_TASK = 1000L

  /** Driver-side parquet footer row count — no Spark job (the width
    * decision must not cost a count() per invocation). Single-file
    * fixtures only; anything else → None and the caller falls back to
    * full session width (never under-parallel). */
  private[graft] def footerRowCount(s: SparkSession, path: String)
      : Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, s.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case _: Exception => None }

  /** The documents table spread for a CPU-bound per-row kernel: a
    * mapPartitions/codegen kernel inherits the SCAN's parallelism, and
    * this fixture is one parquet file — one split, one task, every
    * other core idle (the same disease the r8 codec exchange fixed;
    * text_bpe_tokens measured 11× on 10× data because of it). The
    * exchange is ROW-SCALED and skipped outright when the scan already
    * provides enough splits — which is exactly the 100 TB case, where
    * the table arrives as thousands of splits and the claim "no
    * exchange before the kernel" actually holds. Only row-local /
    * partitioning-invariant consumers may use this (every gate oracle
    * in this repo is partitioning-invariant by the determinism
    * discipline; ordered pipelines like pack_chunks manage their own
    * partitioning). */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "documents", TEXT_ROWS_PER_TASK)

  /** The embeddings table spread for the vector kernels (quantize, dot
    * products, PQ/SQ8 encode) — same single-split disease, heavier
    * per-row math, so a smaller rows-per-task target. */
  def embeddingsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "embeddings", 500L)

  private def spread(s: SparkSession, d: String, name: String,
      rowsPerTask: Long): DataFrame = {
    val df = t(s, d, name)
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val target = footerRowCount(s, s"$d/$name.parquet")
      .map(r => math.max(1L, math.min(width.toLong,
        (r + rowsPerTask - 1) / rowsPerTask)).toInt)
      .getOrElse(width)
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** events.ts has shipped in two physical shapes across driver fixture
    * generations: parquet TIMESTAMP(NANOS) (readable by Spark only as
    * int64 under the legacy flag; truncated ns→us exactly like DuckDB's
    * cast) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ). Normalize both to TIMESTAMP_LTZ micros carrying the
    * fixture's wall-clock as a UTC instant — the one type every
    * downstream gate and oracle was written against. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsAsUtcInstant(t(s, d, "events"))
  }

  /** Normalize a `ts` column to TIMESTAMP_LTZ micros whose instant is the
    * fixture wall-clock read as UTC, whatever physical type the source
    * carried. The NTZ→LTZ cast takes the session timezone, so that arm
    * demands the UTC pin every engine entrypoint already sets — failing
    * loudly beats silently shifting every event by the local offset. */
  private[graft] def tsAsUtcInstant(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>              // int64 nanos under the legacy flag
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; converting it to an instant needs " +
          s"spark.sql.session.timeZone=UTC (got '$tz') or every event " +
          "shifts by the zone offset")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df                  // already TIMESTAMP_LTZ
    }
  }
  /** Unique per-invocation suffix for session temp-view names: gates
    * that drop to SQL over temp views must not collide if two gates
    * (or two datasets) ever evaluate concurrently in one session, and
    * must not leak fixed names into the caller's catalog. */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def invocationSuffix(): String =
    s"_i${viewSeq.incrementAndGet()}"

  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact money arithmetic: the synthetic prices/discounts are 2-decimal
    * doubles; casting each value to decimal(18,2) BEFORE aggregating makes
    * sums order-independent and bit-identical to the DuckDB oracle
    * (double sums are order-dependent and would flake the hash compare).
    * Final results are cast back to double so output schemas stay simple.
    */
  val dec = "decimal(18,2)"
}
