package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark
import graft.operators.WriteOps.{SnapshotTable => T}

/** Parquet BLOOM-FILTER file skipping for point lookups (r16 verdict
  * ask #5): a table declaring `TBLPROPERTIES ('bloomFilterColumns' =
  * '<cols>')` writes parquet-mr's native adaptive bloom filters on
  * those columns through every write path, and the read side's
  * equality predicates (Spark's ParquetFilters build `FilterApi.eq`)
  * consult them — so a `=`/one-point-`IN` probe on a
  * high-cardinality NON-CLUSTERED key skips row groups min/max stats
  * cannot discriminate. False-negative-free by parquet's bloom
  * contract (a bloom only ever proves absence); legacy tables and
  * files without blooms read unchanged. */
class BloomSkipSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, String) = {
    val base = Files.createTempDirectory("g_bloom_cat").toString
    val name = "gbloom_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  /** A one-file fixture whose row groups are SMALL and whose key
    * order is SCATTERED (ordered by key hash), so every row group's
    * [min, max] spans nearly the whole key domain — the shape where
    * stats pruning is useless and only a bloom (dictionary encoding
    * is disabled) can skip groups. */
  private def scatteredBloomTable(): (String, String, String) = {
    val (cat, base) = freshCatalog()
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevRg = hconf.get("graft.snapshot.rowGroupBytes")
    val prevDict = hconf.get("parquet.enable.dictionary")
    hconf.setLong("graft.snapshot.rowGroupBytes", 32L * 1024)
    hconf.set("parquet.enable.dictionary", "false")
    try {
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, pt_year INT, s STRING) " +
        "TBLPROPERTIES ('bloomFilterColumns' = 'k')")
      import spark.implicits._
      // the scatter is baked into the LOCAL row order (a sort in the
      // view would be eliminated on the INSERT path as semantically
      // redundant) — deterministic, and partition-order-preserving
      // all the way into the written file
      new scala.util.Random(42L)
        .shuffle((0L until 20000L).toVector)
        .map(k => (k, 1, s"payload_$k"))
        .toDF("k", "pt_year", "s").coalesce(1)
        .createOrReplaceTempView("bloom_src")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM bloom_src")
      val root = s"$base/t"
      assert(T.files(root, T.versions(root).max).size === 1)
      (cat, base, root)
    } finally {
      if (prevRg == null) hconf.unset("graft.snapshot.rowGroupBytes")
      else hconf.set("graft.snapshot.rowGroupBytes", prevRg)
      if (prevDict == null) hconf.unset("parquet.enable.dictionary")
      else hconf.set("parquet.enable.dictionary", prevDict)
    }
  }

  /** Runs `f` with parquet-mr's bloom-filter row-group skipping off
    * (stats and dictionary skipping stay on). */
  private def withBloomOff[A](f: => A): A = {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean("parquet.filter.bloom.enabled", false)
    try f finally hconf.unset("parquet.filter.bloom.enabled")
  }

  private def footer(path: String) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sparkContext.hadoopConfiguration))
  }

  test("declared bloom columns write parquet blooms; undeclared don't") {
    val (_, _, root) = scatteredBloomTable()
    val file = T.files(root, T.versions(root).max).head
    val fr = footer(file)
    try {
      val cols = fr.getRowGroups.get(0).getColumns
      val byName = (0 until cols.size).map(i =>
        cols.get(i).getPath.toDotString -> cols.get(i)).toMap
      assert(byName("k").getBloomFilterOffset >= 0,
        "declared bloom column must carry a bloom filter")
      assert(byName("s").getBloomFilterOffset < 0,
        "undeclared column must not pay for a bloom")
    } finally fr.close()
  }

  test("eq predicate + bloom skips row groups stats cannot") {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val (cat, _, root) = scatteredBloomTable()
    val file = T.files(root, T.versions(root).max).head
    val conf = spark.sparkContext.hadoopConfiguration
    val input = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)

    val all = ParquetFileReader.open(input,
      HadoopReadOptions.builder(conf).build())
    val total = try all.getRowGroups.size finally all.close()
    assert(total >= 4, s"fixture needs many row groups, got $total")

    // control: the hash-scattered key order makes every group's
    // [min, max] span the domain, so a RANGE pair keeps them all
    val rangePair = FilterApi.and(
      FilterApi.gtEq(FilterApi.longColumn("k"),
        java.lang.Long.valueOf(12345L)),
      FilterApi.ltEq(FilterApi.longColumn("k"),
        java.lang.Long.valueOf(12345L)))
    val statsOnly = ParquetFileReader.open(input,
      HadoopReadOptions.builder(conf)
        .withRecordFilter(FilterCompat.get(rangePair))
        .useBloomFilter(false).build())
    val keptStats = try statsOnly.getRowGroups.size finally statsOnly.close()
    assert(keptStats === total,
      "scattered fixture must defeat min/max stats — fixture broken")

    // the shipped path: the SQL point probe reaches Spark's
    // ParquetFilters as eq, and the bloom drops non-matching groups —
    // the scan emits only the surviving groups' rows
    def probe = spark.sql(s"SELECT k, s FROM $cat.t WHERE k = 12345")
    val bloomed = ScanMetrics.scanRows(probe)
    val unbloomed = withBloomOff(ScanMetrics.scanRows(probe))
    assert(unbloomed === 20000L,
      "without blooms every group must be read — fixture broken")
    assert(bloomed < unbloomed,
      s"bloom must skip non-matching groups ($bloomed of 20000 rows)")
    assert(bloomed >= 1L, "the matching group must survive")
  }

  test("point probe through SQL: exact rows, pushdown on or off") {
    val (cat, _, _) = scatteredBloomTable()
    def probe(): Seq[(Long, String)] =
      spark.sql(s"SELECT k, s FROM $cat.t WHERE k = 12345").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val on = probe()
    val off = ScanMetrics.withConf(spark,
      "spark.sql.parquet.filterPushdown", "false")(probe())
    assert(on === Seq((12345L, "payload_12345")))
    assert(off === on)
  }

  test("string bloom column: eq predicate builds and probes exactly") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ts (id STRING, pt_year INT, v DOUBLE) " +
      "TBLPROPERTIES ('bloomFilterColumns' = 'id')")
    spark.sql(s"INSERT INTO $cat.ts VALUES " +
      "('a-001', 2024, 1.0), ('b-002', 2024, 2.0), ('c-003', 2025, 3.0)")
    val root = s"$base/ts"
    val file = T.files(root, T.versions(root).max).head
    val fr = footer(file)
    try {
      val cols = fr.getRowGroups.get(0).getColumns
      val kCol = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "id").get
      assert(kCol.getBloomFilterOffset >= 0)
    } finally fr.close()
    val got = spark.sql(
      s"SELECT v FROM $cat.ts WHERE id = 'b-002'").collect()
    assert(got.map(_.getDouble(0)).toSeq === Seq(2.0))
  }

  test("float bloom columns are refused at CREATE; unknown columns too") {
    val (cat, _) = freshCatalog()
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $cat.bad (k DOUBLE, pt_year INT) " +
        "TBLPROPERTIES ('bloomFilterColumns' = 'k')")
    }
    assert(e1.getMessage.contains("integral or string"))
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $cat.bad2 (k BIGINT, pt_year INT) " +
        "TBLPROPERTIES ('bloomFilterColumns' = 'nope')")
    }
    assert(e2.getMessage.contains("not in the schema"))
  }

  test("legacy tables without the property write no blooms and read " +
      "unchanged; merge-on-read delta writers carry blooms too") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.plain (k BIGINT, pt_year INT)")
    spark.sql(s"INSERT INTO $cat.plain VALUES (1, 2024), (2, 2024)")
    val plainFile = T.files(s"$base/plain", 1).head
    val fr = footer(plainFile)
    try assert(fr.getRowGroups.get(0).getColumns.get(0)
      .getBloomFilterOffset < 0)
    finally fr.close()

    // a rowKey + bloom table: the SupportsDelta append files carry
    // the bloom as well (bloomWriteConf rides the delta write conf)
    spark.sql(s"CREATE TABLE $cat.mor (k BIGINT, pt_year INT, v DOUBLE) " +
      "TBLPROPERTIES ('rowKey' = 'k', 'bloomFilterColumns' = 'k')")
    spark.sql(s"INSERT INTO $cat.mor VALUES (1, 2024, 1.0), (2, 2024, 2.0)")
    spark.sql(s"UPDATE $cat.mor SET v = v + 1.0 WHERE k % 2 = 1")
    val root = s"$base/mor"
    val v = T.versions(root).max
    val deltaFile = T.files(root, v).toSet
      .diff(T.files(root, v - 1).toSet)
    assert(deltaFile.nonEmpty, "the MoR update must append a delta file")
    val fr2 = footer(deltaFile.head)
    try {
      val cols = fr2.getRowGroups.get(0).getColumns
      val kCol = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "k").get
      assert(kCol.getBloomFilterOffset >= 0,
        "delta-written files must carry the declared bloom")
    } finally fr2.close()
    assert(spark.sql(s"SELECT k, v FROM $cat.mor ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 2.0), (2L, 2.0)))
  }
}
