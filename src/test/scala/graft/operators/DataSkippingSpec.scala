package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TestSpark

/** File-level column statistics + data skipping on the snapshot table —
  * the contracts the write_skipping_scan hash oracle can't state: stats
  * land in the manifest at commit, a range read opens STRICTLY FEWER
  * files while losing no rows, files lacking stats for a column are
  * conservatively kept (pre-stats manifests, schema-evolution gaps,
  * unsupported types), string pruning follows parquet's UNSIGNED UTF-8
  * order (not Java's UTF-16 compareTo), and optimize's rewrite
  * re-collects stats on the compacted files. */
class DataSkippingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val T = WriteOps.SnapshotTable

  /** 4 range tasks × 2 year dirs → 8 files, each holding a narrow,
    * disjoint k-band — the clustered layout skipping needs. */
  private def clusteredTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_spec").toString
    val df = (0L until 4000L)
      .map(k => (k, 1 + (k % 2).toInt, k.toDouble / 2, f"s$k%05d"))
      .toDF("k", "pt_year", "d", "s")
      .repartitionByRange(4, col("k"))
    T.commit(spark, root, 0, df, Seq(1, 2), distribute = false)
    root
  }

  test("commit records footer min/max; range reads prune and lose nothing") {
    val root = clusteredTable()
    val es = T.statEntries(root, 0)
    assert(es.size === 8, "expected 4 range tasks × 2 partition dirs")
    assert(es.forall(_.stats.nonEmpty), "a fresh file has no stats blob")
    val st = T.decodeStats(es.head.stats)
    assert(Set("k", "pt_year", "d", "s").subsetOf(st.keySet),
      s"missing stat columns in ${st.keySet}")

    val all = T.files(root, 0)
    // long column: [100, 200] lives in one k-band (×2 year files)
    val prunedL = T.filesInRange(root, 0, "k", 100L, 200L)
    assert(prunedL.size < all.size && prunedL.nonEmpty,
      s"k-range pruned ${prunedL.size}/${all.size}")
    val full = T.read(spark, root, 0)
      .filter(col("k").between(100, 200)).collect().toSet
    val ranged = T.readRange(spark, root, 0, "k", 100L, 200L)
      .collect().toSet
    assert(ranged === full, "pruned read lost or invented rows")

    // double column (d = k/2, same clustering)
    val prunedD = T.filesInRange(root, 0, "d", 10.0, 20.0)
    assert(prunedD.size < all.size && prunedD.nonEmpty)
    assert(T.readRange(spark, root, 0, "d", 10.0, 20.0).count() ===
      T.read(spark, root, 0).filter(col("d").between(10.0, 20.0)).count())

    // string column (zero-padded, so lexicographic = numeric here)
    val prunedS = T.filesInRange(root, 0, "s", "s00100", "s00200")
    assert(prunedS.size < all.size && prunedS.nonEmpty)
    assert(T.readRange(spark, root, 0, "s", "s00100", "s00200")
      .count() === 101)
  }

  test("a disjoint predicate prunes every file; the read still answers") {
    val root = clusteredTable()
    assert(T.filesInRange(root, 0, "k", 100000L, 200000L).isEmpty)
    assert(T.readRange(spark, root, 0, "k", 100000L, 200000L).count() === 0)
  }

  test("schema-evolution gap: carried files lack the new column's stats and are kept") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_evo").toString
    T.commit(spark, root, 0,
      Seq((1L, 1, 10.0)).toDF("k", "pt_year", "v"), Seq(1))
    T.commit(spark, root, 1,
      Seq((2L, 2, 20.0, 5L)).toDF("k", "pt_year", "v", "extra"), Seq(2))
    // v0's carried year-1 file has no 'extra' stats → conservatively kept
    val pruned = T.filesInRange(root, 1, "extra", 0L, 100L)
    assert(pruned.toSet === T.files(root, 1).toSet,
      "a file without stats for the predicate column was pruned")
    // the residual filter restores row granularity (null extra drops)
    assert(T.readRange(spark, root, 1, "extra", 0L, 100L).count() === 1)
  }

  test("legacy manifest lines without a stats field parse and never prune") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_legacy").toString
    T.commit(spark, root, 0,
      Seq((1L, 1, 10.0), (2L, 1, 20.0)).toDF("k", "pt_year", "v"), Seq(1))
    // strip the stats field — the pre-stats manifest format
    import scala.jdk.CollectionConverters._
    val mPath = Files.readAllLines(Paths.get(root, "_manifests", "v0.txt"))
      .asScala.find(_.startsWith("y1\t")).get.split('\t')(1)
    val mf = Paths.get(mPath)
    val legacy = Files.readAllLines(mf).asScala
      .map(_.split('\t').take(2).mkString("\t"))
    Files.write(mf, legacy.asJava)
    Files.deleteIfExists(
      mf.resolveSibling("." + mf.getFileName.toString + ".crc"))
    val es = T.statEntries(root, 0)
    assert(es.forall(_.stats.isEmpty))
    // no stats → every file kept, reads still exact
    assert(T.filesInRange(root, 0, "k", 5L, 6L).size === es.size)
    assert(T.readRange(spark, root, 0, "k", 1L, 1L).count() === 1)
  }

  test("unsupported types (decimal) collect no stats and never prune") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_dec").toString
    val df = Seq((1L, 1, BigDecimal("10.50")), (2L, 1, BigDecimal("20.25")))
      .toDF("k", "pt_year", "price")
    T.commit(spark, root, 0, df, Seq(1))
    val st = T.decodeStats(T.statEntries(root, 0).head.stats)
    assert(!st.contains("price"), "decimal must not be stat-indexed")
    assert(st.contains("k"))
    assert(T.filesInRange(root, 0, "price", 0L, 1L).size ===
      T.files(root, 0).size)
  }

  test("string pruning follows parquet's unsigned UTF-8 order") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_utf8").toString
    // U+FF5A (ｚ: EF BD 9A) vs U+1F600 (😀: F0 9F 98 80): Java's UTF-16
    // compareTo says ｚ > 😀 (FF5A > D83D surrogate), UTF-8 bytes say
    // ｚ < 😀 — parquet stats use the byte order, so min=ｚ, max=😀
    val zChar = "ｚ"
    val emoji = new String(Character.toChars(0x1F600))
    T.commit(spark, root, 0,
      Seq((1L, 1, zChar), (2L, 1, emoji)).toDF("k", "pt_year", "s")
        .coalesce(1), Seq(1))
    assert(T.files(root, 0).size === 1)
    val st = T.decodeStats(T.statEntries(root, 0).head.stats)("s")
    assert(st.min === zChar && st.max === emoji,
      "recorded bounds disagree with parquet's unsigned UTF-8 order")
    // an equality probe at the UTF-8 max must keep the file — a UTF-16
    // comparison would conclude 😀 < min(ｚ) and wrongly skip it
    val kept = T.filesInRange(root, 0, "s", emoji, emoji)
    assert(kept.size === 1, "UTF-16 ordering leaked into the prune")
    assert(T.readRange(spark, root, 0, "s", emoji, emoji).count() === 1)
  }

  test("conjunctive skipping over a z-ordered layout prunes multiplicatively") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_zorder").toString
    // 64×64 grid, fragmented commit, then OPTIMIZE ZORDER BY (a, b)
    val df = (for (a <- 0L until 64L; b <- 0L until 64L)
      yield (a, b, 1)).toDF("a", "b", "pt_year").repartition(10)
    T.commit(spark, root, 0, df, Seq(1), distribute = false)
    assert(T.optimize(spark, root, 1, maxFilesPerPartition = 1,
      targetFileBytes = 4L << 10, zorderBy = Seq("a", "b")) === Seq(1))
    val all = T.files(root, 1)
    assert(all.size >= 4, s"fixture wrote ${all.size} files — too few to prune")
    val prunedA = T.filesWhere(root, 1, Seq(("a", 10L, 20L)))
    val prunedB = T.filesWhere(root, 1, Seq(("b", 10L, 20L)))
    val prunedAB = T.filesWhere(root, 1,
      Seq(("a", 10L, 20L), ("b", 10L, 20L)))
    // the z-curve clusters BOTH dims: each 1-D predicate prunes, and
    // the conjunction prunes at least as hard as the better of the two
    assert(prunedA.size < all.size, "a-range did not prune")
    assert(prunedB.size < all.size, "b-range did not prune")
    assert(prunedAB.size <= math.min(prunedA.size, prunedB.size))
    assert(prunedAB.nonEmpty)
    // exactness: pruned conjunctive read == full scan + filter
    val expect = T.read(spark, root, 1)
      .filter(col("a").between(10, 20) && col("b").between(10, 20))
      .count()
    assert(expect === 11L * 11L)
    assert(T.readWhere(spark, root, 1,
      Seq(("a", 10L, 20L), ("b", 10L, 20L))).count() === expect)
  }

  test("optimize's rewrite re-collects stats on the compacted files") {
    import spark.implicits._
    val root = Files.createTempDirectory("g_skip_opt").toString
    val df = (0L until 1000L).map(k => (k, 1, k.toDouble))
      .toDF("k", "pt_year", "v").repartition(6)
    T.commit(spark, root, 0, df, Seq(1), distribute = false)
    assert(T.files(root, 0).size > 1)
    assert(T.optimize(spark, root, 1, maxFilesPerPartition = 1) === Seq(1))
    val es = T.statEntries(root, 1)
    assert(es.forall(_.stats.nonEmpty), "optimize dropped the stats")
    val st = T.decodeStats(es.head.stats)("k")
    // the compacted file's recorded bounds span the whole partition
    val mins = es.map(e => T.decodeStats(e.stats)("k").min.toLong).min
    val maxs = es.map(e => T.decodeStats(e.stats)("k").max.toLong).max
    assert(mins === 0L && maxs === 999L)
    assert(st.typ === 'L')
  }

  /** Every stat-bearing manifest entry agrees with its own file's
    * parquet footer: the same row count and null counts, and recorded
    * bounds inside the footer's (row-taken bounds may be tighter, never
    * looser). A column holding NaN or no value records no bounds. */
  private def assertWithinFooters(es: Seq[T.FileEntry]): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    assert(es.nonEmpty, "the write path produced no files")
    val conf = spark.sparkContext.hadoopConfiguration
    def unsignedLe(a: Array[Byte], b: Array[Byte]): Boolean = {
      val i = a.indices.find(i => i >= b.length || a(i) != b(i))
      i.forall(i => i < b.length && (a(i) & 0xff) < (b(i) & 0xff))
    }
    es.foreach { e =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(e.path), conf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        assert(e.rows === blocks.map(_.getRowCount).sum, e.path)
        val st = T.decodeStats(e.stats)
        assert(st.nonEmpty, s"${e.path} has no stats")
        st.foreach { case (c, cs) =>
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == c).get.getStatistics)
          assert(cs.nulls === chunks.map(_.getNumNulls).sum, s"$c nulls")
          if (cs.min.nonEmpty) {
            val what = s"$c [${cs.min}, ${cs.max}] in ${e.path}"
            assert(chunks.forall(_.hasNonNullValue), what)
            cs.typ match {
              case 'L' =>
                def v(x: Any) = x.asInstanceOf[Number].longValue
                assert(chunks.map(x => v(x.genericGetMin)).min <=
                  cs.min.toLong, what)
                assert(cs.max.toLong <=
                  chunks.map(x => v(x.genericGetMax)).max, what)
              case 'D' =>
                def v(x: Any) = x.asInstanceOf[Number].doubleValue
                assert(chunks.map(x => v(x.genericGetMin)).min <=
                  cs.min.toDouble, what)
                assert(cs.max.toDouble <=
                  chunks.map(x => v(x.genericGetMax)).max, what)
              case _ =>
                val lo = cs.min.getBytes("UTF-8")
                val hi = cs.max.getBytes("UTF-8")
                assert(chunks.exists(x =>
                  unsignedLe(x.getMinBytes, lo)), what)
                assert(chunks.exists(x =>
                  unsignedLe(hi, x.getMaxBytes)), what)
            }
          }
        }
      } finally rd.close()
    }
  }

  test("every write path's stats lie within its files' footer bounds") {
    import spark.implicits._
    val df = Seq(
      (1L, 2023, Some(1.5), Some(3.4f), Some("ab"), Option.empty[String]),
      (2L, 2023, Some(Double.NaN), Some(0.25f), Some("ｚ"), None),
      (3L, 2023, None, None, None, None),
      (4L, 2024, Some(-2.0), Some(-1.5f), Some("é😀"), None),
      (5L, 2024, Some(7.0), None, Some("Z"), None))
      .toDF("k", "pt_year", "d", "f", "s", "n")
    // batch commit
    val root = Files.createTempDirectory("g_skip_parity").toString
    T.commit(spark, root, 0, df, Seq(2023, 2024))
    val batch = T.statEntries(root, 0)
    assertWithinFooters(batch)
    val y23 = T.decodeStats(batch.find(_.path.contains("_y2023_")).get.stats)
    assert(y23("d").min.isEmpty && y23("d").nulls === 1L,
      "a NaN column must record only its null count")
    assert(y23("n").min.isEmpty && y23("n").nulls === 3L,
      "an all-null column must record only its null count")
    assert(y23("f").max === 3.4f.toDouble.toString)
    assert(y23("s").max === "ｚ")

    val base = Files.createTempDirectory("g_skip_parity_cat").toString
    val cat = "gpar_" + java.util.UUID.randomUUID().toString.take(8)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    def fresh(r: String)(statement: => Unit): Seq[T.FileEntry] = {
      val before = T.files(r, T.versions(r).max).toSet
      statement
      T.statEntries(r, T.versions(r).max).filterNot(e =>
        before.contains(e.path))
    }
    // SQL UPDATE (copy-on-write)
    T.commit(spark, s"$base/cow", 0, df, Seq(2023, 2024))
    assertWithinFooters(fresh(s"$base/cow")(spark.sql(
      s"UPDATE $cat.cow SET s = concat(s, 'ß') WHERE k IN (1, 4)")))
    // merge-on-read inserts
    spark.sql(s"CREATE TABLE $cat.mor (k BIGINT, pt_year INT, d DOUBLE, " +
      "f FLOAT, s STRING, n STRING) TBLPROPERTIES ('rowKey' = 'k')")
    df.createOrReplaceTempView("g_parity_src")
    spark.sql(s"INSERT INTO $cat.mor SELECT * FROM g_parity_src")
    assertWithinFooters(fresh(s"$base/mor")(spark.sql(
      s"UPDATE $cat.mor SET f = f * 2 WHERE k <= 4")))
    // a streaming-sink epoch
    val sink = Files.createTempDirectory("g_skip_parity_sink").toString
    T.commit(spark, sink, 0, df.filter(lit(false)), Seq.empty)
    val src = Files.createTempDirectory("g_skip_parity_src").toString
    df.write.mode("overwrite").parquet(src)
    spark.readStream.schema(df.schema).parquet(src).writeStream
      .format("graft-snapshot").option("root", sink)
      .option("checkpointLocation",
        Files.createTempDirectory("g_skip_parity_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(300000)
    assert(T.versions(sink) === Seq(0, 1))
    assertWithinFooters(T.statEntries(sink, 1))
  }
}
