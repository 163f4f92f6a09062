package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Determinism contract: floats are quantized to int64 (round(x*1000)), so
  * dot products and norms are EXACT integer sums — order-independent and
  * bit-identical to the DuckDB oracle; the only FP steps (sqrt, one
  * division) are per-row IEEE ops identical across engines.
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (tiny) query set and streams the
  *    corpus: one narrow pass, one shuffle for the per-query top-k —
  *    the right baseline at any corpus size when |queries| is small.
  *  - LSH (signed random projections) assigns each vector a bucket in one
  *    narrow pass; near-dup candidate generation joins WITHIN buckets
  *    only, replacing the O(n²) cross join with a skew-bounded equi-join —
  *    the 100 TB path. Hyperplanes are md5-derived ±1 vectors, inlined as
  *    literals in both engines.
  */
object VectorOps {
  import Tables.embeddings
  import graft.functions.ArrayDotLong.array_dot_long

  private val DIM = 64

  /** Operator knobs — defaults for the gate queries; every operator
    * below also takes them as parameters so a deployment can re-balance
    * buckets/cells to its corpus (VectorOpsSpec shows more planes ⇒
    * smaller max bucket, i.e. the quadratic neardup verify step stays
    * bounded as the corpus grows). */
  val NPLANES = 8 // LSH hyperplanes → 2^NPLANES buckets
  val NLIST = 16 // IVF cells
  val NPROBE = 4 // IVF cells searched per query

  /** Deterministic ±1 hyperplanes: sign from the top bit of md5("p_i"). */
  private[graft] def planesFor(nplanes: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nplanes).map { p =>
      (0 until DIM).map { i =>
        val h = md.digest(s"${p}_$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1 else -1
      }
    }
  }
  private[graft] val planes: Seq[Seq[Int]] = planesFor(NPLANES)

  /** Quantized int64 vector + exact squared norm — both via the
    * codegen'd native expressions (QuantizeLongSpec proves the
    * quantizer bit-identical to the SQL round form the oracle runs). */
  private def quantized(df: DataFrame): DataFrame =
    df.withColumn("qv",
        graft.functions.QuantizeLong.quantize_long(col("embedding"), 1000L))
      .withColumn("nrm", array_dot_long(col("qv"), col("qv")))

  private def bucketExpr(nplanes: Int = NPLANES): Column = {
    val bits = planesFor(nplanes).zipWithIndex.map { case (w, p) =>
      val arr = w.map(x => s"${x}L").mkString(", ")
      when(array_dot_long(col("qv"), expr(s"array($arr)")) >= 0,
           lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _).cast("int")
  }

  private def oracleQuantCte: String =
    """e AS (SELECT vec_id,
         list_transform(embedding, x ->
           cast(round(cast(x as double) * 1000) as bigint)) AS qv
       FROM embeddings),
       n AS (SELECT vec_id, qv,
         cast(list_aggregate(list_transform(qv, x -> x * x), 'sum')
              as bigint) AS nrm
       FROM e)"""

  private def oracleBucketSql: String = {
    val planeRows = planes.zipWithIndex.map { case (w, p) =>
      s"($p, [${w.mkString(", ")}])"
    }.mkString(",\n           ")
    s"""WITH $oracleQuantCte,
       planes(p, w) AS (VALUES
           $planeRows),
       dots AS (
         SELECT n.vec_id, planes.p,
           cast(list_aggregate(list_transform(range(1, $DIM + 1),
             i -> n.qv[i] * cast(planes.w[i] as bigint)), 'sum') as bigint)
             AS dot
         FROM n, planes)
       SELECT vec_id,
         cast(sum(CASE WHEN dot >= 0
                  THEN power(2, p) ELSE 0 END) as int) AS bucket
       FROM dots GROUP BY vec_id"""
  }

  /** Deterministic distributed Lloyd's k-means over the quantized
    * vectors — the real coarse quantizer for [[queries ann_ivf_topk]]
    * (which the oracle runs with first-N seeds; swap these centroids in
    * and no plan shape changes). Init = first k vectors by vec_id,
    * fixed `iters` sweeps, ties to the lower cid — fully deterministic,
    * no RNG. Each sweep is one broadcast (k×DIM doubles, driver-held
    * index metadata) + one map-side-combined aggregation; nothing
    * corpus-sized ever reaches the driver.
    */
  def kmeansCentroids(s: SparkSession, d: String, k: Int, iters: Int)
      : Array[Array[Double]] = {
    val e = quantized(Tables.embeddingsSpread(s, d)).filter(col("nrm") > 0)
      .select(col("vec_id"),
        expr("transform(qv, x -> cast(x as double))").as("v"))
    var cents: Array[Array[Double]] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    var it = 0
    while (it < iters) {
      val centsLit = array(cents.map(c =>
        array(c.map(lit): _*)): _*)
      // nearest centroid by squared L2; ties -> lower cid
      val assigned = e.withColumn("cents", centsLit)
        .withColumn("cid", expr(
          s"""array_position(
                transform(cents, c ->
                  aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),
                            cast(0.0 as double), (acc, x) -> acc + x)),
                array_min(
                  transform(cents, c ->
                    aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),
                              cast(0.0 as double), (acc, x) -> acc + x)))
              ) - 1"""))
      val sums = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.groupBy(_.getLong(0)).foreach { case (cid, rows) =>
        val dim = rows.map(r =>
          (r.getInt(1), r.getDouble(2) / r.getLong(3))).toMap
        next(cid.toInt) = (0 until DIM).map(i =>
          dim.getOrElse(i, cents(cid.toInt)(i))).toArray
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Within-cluster sum of squares for a centroid set — the k-means
    * objective, used by specs to verify sweeps never regress. */
  def wcss(s: SparkSession, d: String, cents: Array[Array[Double]])
      : Double = {
    val centsLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    quantized(Tables.embeddingsSpread(s, d)).filter(col("nrm") > 0)
      .select(expr("transform(qv, x -> cast(x as double))").as("v"))
      .withColumn("cents", centsLit)
      .select(expr(
        """array_min(transform(cents, c ->
             aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)),
                       cast(0.0 as double), (acc, x) -> acc + x)))""")
        .as("d2"))
      .agg(sum("d2")).collect()(0).getDouble(0)
  }

  /** Brute-force cosine top-k for query vectors vec_id < 5: broadcast
    * the queries, stream the corpus, per-query top-k via window. */
  def bruteforceTopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d)).select("vec_id", "qv", "nrm")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
              col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", array_dot_long(col("qqv"), col("qv")))
      .filter(col("nrm") > 0 && col("qnrm") > 0)
      .withColumn("sim",
        col("dot").cast("double") /
          (sqrt(col("qnrm").cast("double")) *
           sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "sim")
  }

  /** LSH bucket assignment — one narrow pass; the scale path's index.
    * More planes ⇒ exponentially more buckets ⇒ smaller max bucket. */
  def lshBuckets(s: SparkSession, d: String,
      nplanes: Int = NPLANES): DataFrame =
    quantized(Tables.embeddingsSpread(s, d))
      .select(col("vec_id"), bucketExpr(nplanes).as("bucket"))

  /** Quantized k-means centroids as an IVF-ready (cid, cqv, cnrm) frame:
    * [[kmeansCentroids]] rounded back onto the int64 grid so the search
    * path stays exact integer arithmetic — drop-in for the first-N seed
    * set with zero plan change. */
  def kmeansCentroidFrame(s: SparkSession, d: String, k: Int,
      iters: Int): DataFrame = {
    import s.implicits._
    kmeansCentroids(s, d, k, iters).zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.map(math.round)) }
      .toDF("cid", "cqv")
      .withColumn("cnrm", array_dot_long(col("cqv"), col("cqv")))
  }

  /** Sweeps for the candidate trained quantizer (specs prove WCSS is
    * non-increasing per sweep; more sweeps never changed the promotion
    * outcome in tools/TrainedIvfProbe's 1..8 sweep). */
  private[graft] val TRAIN_ITERS = 2

  /** Centroid rows (cid, cqv, cnrm) + promotion flag for the oracled
    * IVF gates, chosen by VALIDATED PROMOTION — the index-rollout
    * protocol a production vector store runs: train the k-means
    * candidate, score BOTH the candidate and the incumbent seed cells
    * against exact brute-force truth on the validation queries, and
    * deploy the candidate only if it does not regress recall.
    *
    * On clustered corpora training wins and is promoted
    * (TrainedPromotionSpec proves it on a 16-cluster fixture); on this
    * repo's synthetic near-orthogonal corpus k-means has no structure
    * to learn — every variant measured by tools/TrainedIvfProbe (plain
    * 1..8 sweeps, spherical re-normalization, farthest-point init,
    * equal-scan-budget nlist 32/64) scores at or below the seed cells,
    * e.g. sf0.01 seed 46/50 vs trained 41-45/50 — so the guard keeps
    * the seed index deployed, which is exactly the point: a rollout
    * gate exists to refuse exactly this regression. SCALE.md §ANN
    * records the full probe table.
    *
    * Everything cached is bounded driver metadata (nlist × DIM longs,
    * the PQ-codebook protocol), plain values with no session
    * reference, memoized per (dir, nlist, iters); the deployed and
    * candidate rows are inlined into the DuckDB oracle as literal
    * VALUES by [[deployedCentsValuesSql]], so both engines search the
    * same deployed index and re-derive the same promotion verdict. */
  private val deployedCentCache = scala.collection.concurrent.TrieMap[
    (String, Int, Int),
    (Array[(Long, Array[Long], Long)], Array[(Long, Array[Long], Long)],
      Boolean)]()
  @volatile private var lastDeployedKey: Option[(String, Int, Int)] = None

  /** The fixture dir whose centroids the oracle SQL must inline —
    * pinned by Verify before dumping oracleSql, so a multi-fixture JVM
    * resolves the VALUES trained on the dir being VERIFIED rather than
    * whichever gate ran last ([[lastDeployedKey]] remains the fallback
    * for single-dir sessions: Bench, specs, the CLI). */
  @volatile private var pinnedOracleDir: Option[String] = None
  def pinOracleDir(d: String): Unit = pinnedOracleDir = Some(d)

  /** (deployedRows, trainedRows, promoted). */
  private[graft] def deployedCentroids(s: SparkSession, d: String,
      nlist: Int = NLIST, iters: Int = TRAIN_ITERS)
      : (Array[(Long, Array[Long], Long)],
         Array[(Long, Array[Long], Long)], Boolean) = {
    val v = deployedCentCache.getOrElseUpdate((d, nlist, iters), {
      val trained = kmeansCentroids(s, d, nlist, iters).zipWithIndex
        .map { case (c, i) =>
          val q = c.map(math.round)
          (i.toLong, q, q.map(x => x * x).sum)
        }
      val seed = quantized(Tables.embeddingsSpread(s, d)).filter(col("nrm") > 0)
        .filter(col("vec_id") < nlist).orderBy("vec_id")
        .select("vec_id", "qv", "nrm").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      val truth = bruteforceTopK(s, d).select("qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def score(rows: Array[(Long, Array[Long], Long)]): Int =
        ivfTopK(s, d, nlist = nlist,
            centroids = Some(centroidFrame(s, rows)))
          .select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet.intersect(truth).size
      val promoted = score(trained) >= score(seed)
      (if (promoted) trained else seed, trained, promoted)
    })
    lastDeployedKey = Some((d, nlist, iters))
    v
  }

  private def centroidFrame(s: SparkSession,
      rows: Array[(Long, Array[Long], Long)]): DataFrame = {
    import s.implicits._
    rows.toSeq.map { case (cid, qv, nrm) => (cid, qv.toSeq, nrm) }
      .toDF("cid", "cqv", "cnrm")
  }

  private def deployedCentroidFrame(s: SparkSession, d: String)
      : DataFrame = centroidFrame(s, deployedCentroids(s, d)._1)

  /** The deployed and candidate centroid sets as DuckDB VALUES
    * relations, or None when no promotion ran in this JVM (then the
    * oracle falls back to the seed set — and no gate parquet exists to
    * compare against, so gate and oracle can never disagree: the gate
    * path always runs the promotion first). */
  private def deployedCentsValuesSql: Option[(String, String)] =
    pinnedOracleDir.map(d => (d, NLIST, TRAIN_ITERS))
      .filter(deployedCentCache.contains)
      .orElse(lastDeployedKey)
      .flatMap(deployedCentCache.get).map {
      case (deployed, trained, _) =>
        def values(rows: Array[(Long, Array[Long], Long)]) = {
          val vals = rows.map { case (cid, qv, nrm) =>
            s"($cid, [${qv.mkString(",")}], $nrm)"
          }.mkString(",\n                   ")
          s"""SELECT cid, cqv, cnrm
         FROM (VALUES $vals) AS t(cid, cqv, cnrm)"""
        }
        (values(deployed), values(trained))
    }

  /** IVF top-k: assign every vector to its nearest coarse centroid, then
    * search only the `nprobe` cells nearest each query. `centroids`
    * defaults to the first `nlist` corpus vectors (the oracle-stable
    * seed set); pass [[kmeansCentroidFrame]] for the trained quantizer —
    * the plan shape is identical (VectorOpsSpec asserts recall@10 ≥ 0.9
    * against brute force). Plan shape is the 100 TB one: centroid set
    * broadcast; assignment is a narrow pass + map-side-combined min_by
    * (no n×nlist shuffle); the search join touches ~nprobe/nlist of the
    * corpus instead of all of it. */
  def ivfTopK(s: SparkSession, d: String, nlist: Int = NLIST,
      nprobe: Int = NPROBE, k: Int = 10,
      centroids: Option[DataFrame] = None,
      eligible: Option[DataFrame] = None): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    val cents = centroids.getOrElse(
      e.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("qv").as("cqv"),
                col("nrm").as("cnrm")))
    // exact L2 via integers: ||v-c||^2 = nrm - 2*dot + cnrm
    val assigned = e.join(broadcast(cents))
      .withColumn("dot", array_dot_long(col("qv"), col("cqv")))
      .withColumn("dist",
        col("nrm") - lit(2L) * col("dot") + col("cnrm"))
    val cells = coarseCells(assigned)
    val qprobe = assigned.filter(col("vec_id") < 5)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cid").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
              col("nrm").as("qnrm"))
    // filtered search: the metadata predicate (an `eligible` id frame)
    // applies INSIDE the index scan — a semi-join on the narrow id list
    // BEFORE the cells×qprobe fanout (each cell's vectors replicate per
    // probing query, so pruning first avoids building rows that are
    // immediately discarded) and before any distance math. That's the
    // pre-filter strategy; post-filtering an unfiltered top-k would
    // silently return < k (or nothing) under selective predicates.
    val scanSide = eligible.fold(cells)(el =>
      cells.join(el, Seq("vec_id"), "left_semi"))
    val cand = scanSide.join(broadcast(qprobe), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(q), "qid")
      .withColumn("dot", array_dot_long(col("qqv"), col("qv")))
      .withColumn("sim",
        col("dot").cast("double") /
          (sqrt(col("qnrm").cast("double")) *
           sqrt(col("nrm").cast("double"))))
    cand.withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "sim")
  }

  /** Nearest-coarse-centroid cell per vector from an `assigned`
    * (vec_id, cid, qv, nrm, dist) frame: map-side-combined min_by, ties
    * to the lower cid — shared by the IVF search and [[semanticDedup]].
    */
  private def coarseCells(assigned: DataFrame): DataFrame =
    assigned.groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("qv"), col("nrm")),
                  struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"),
              col("m.qv").as("qv"), col("m.nrm").as("nrm"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the coarse quantizer,
    * then call a vector a duplicate iff some LOWER-id vector in the SAME
    * cell has cosine ≥ `tau` — keep-lowest-id, the deterministic stand-in
    * for the paper's keep-farthest-from-centroid rule. Output is the full
    * per-vector report (cell, cell size, nearest lower-id in-cell cosine,
    * is_dup/keep), i.e. the audit table a curation run persists.
    *
    * Scale shape: identical to [[ivfTopK]]'s index half — centroids
    * broadcast, assignment narrow + map-side-combined min_by, and the
    * quadratic cosine verify runs WITHIN cells only (an equi-join on
    * cell), so `nlist` is the knob that bounds the per-cell candidate
    * set as the corpus grows; at 100 TB cells come from
    * [[kmeansCentroidFrame]] with nlist ~ sqrt(n), same plan shape.
    *
    * tau=0.4 on the synthetic near-orthogonal corpus (max pairwise
    * cosine ≈ 0.46) exercises both branches; real embedding corpora run
    * tau ≈ 0.95+. All arithmetic exact int64 except one IEEE sqrt/div
    * per candidate pair — hash-identical to the DuckDB oracle. */
  def semanticDedup(s: SparkSession, d: String, nlist: Int = NLIST,
      tau: Double = 0.4): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"),
              col("nrm").as("cnrm"))
    val assigned = e.join(broadcast(cents))
      .withColumn("dot", array_dot_long(col("qv"), col("cqv")))
      .withColumn("dist",
        col("nrm") - lit(2L) * col("dot") + col("cnrm"))
    val cells = coarseCells(assigned)
    val lo = cells.select(col("cell"), col("vec_id").as("id_lo"),
                          col("qv").as("qv_lo"), col("nrm").as("nrm_lo"))
    // nearest lower-id in-cell neighbour: per-cell-bounded equi-join,
    // max() collapses it back to one row per vector before any output
    val nn = cells.join(lo, Seq("cell"))
      .filter(col("id_lo") < col("vec_id"))
      .withColumn("sim",
        array_dot_long(col("qv"), col("qv_lo")).cast("double") /
          (sqrt(col("nrm").cast("double")) *
           sqrt(col("nrm_lo").cast("double"))))
      .groupBy("vec_id").agg(max("sim").as("nn_lower_sim"))
    // `sizes` is one row per coarse cell — PROVABLY ≤ nlist rows (a
    // fixed index parameter, 16 here, hundreds at scale), so it
    // broadcasts safely at any corpus size and the corpus-sized
    // `cells` side never shuffles or sorts for this join (guide §3.1).
    // `nn` is corpus-sized but keyed UNIQUELY by vec_id (a groupBy
    // output) with one narrow double per row — the textbook
    // shuffled-hash build side: unique keys cannot skew a partition
    // and the per-partition build is |corpus|·16B/P. Replaces the r17
    // SortMergeJoin's two sorts with one hash build (guide §3.1).
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    cells.join(broadcast(sizes), Seq("cell"))
      .join(nn.hint("shuffle_hash"), Seq("vec_id"), "left")
      .withColumn("is_dup",
        coalesce(col("nn_lower_sim") >= tau, lit(false)))
      .select(col("vec_id"), col("cell"), col("n_cell"),
              col("nn_lower_sim"), col("is_dup"),
              (!col("is_dup")).as("keep"))
  }

  /** PQ knobs: M subspaces of DIM/M dims, KPQ centroids per subspace.
    * Storage per vector drops from DIM×8 B of int64s to M single-byte
    * codes — the reason PQ is how billion-vector indexes actually store
    * their corpus. */
  val M = 8
  val KPQ = 16
  private val SUBDIM = DIM / M

  /** Per-subspace Lloyd's sweeps over the PQ seed codebook — the
    * training half of a real PQ index. All M subspaces train in ONE
    * Spark job per sweep (explode to (j, subvec), assign against the
    * inlined current codebook, partial-agg per-(j, c, pos) sums);
    * driver traffic per sweep is bounded at m×kpq×subDim doubles.
    * Deterministic: seed = first-kpq sub-vectors, ties to the lower
    * code, fixed sweep count. Returns kpq rows × DIM ints (the same
    * shape [[pqTopK]]'s seed codebook has, rounded onto the int grid).
    */
  def pqTrainedCodebook(s: SparkSession, d: String, m: Int = M,
      kpq: Int = KPQ, iters: Int = 2): Array[Array[Long]] = {
    val subDim = DIM / m
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    var cents: Array[Array[Long]] = e.filter(col("vec_id") < kpq)
      .orderBy("vec_id").select("qv").collect()
      .map(_.getSeq[Long](0).toArray)
    require(cents.nonEmpty,
      s"PQ training needs a non-empty seed: no vectors with vec_id < " +
      s"$kpq and positive norm in $d")
    require(cents.forall(_.length == DIM),
      s"PQ seed vectors must all have dim $DIM")
    var it = 0
    while (it < iters) {
      // assign: per-subspace argmin codes via the native PQ kernel
      // (one node, codegen'd loop), then one posexplode for the
      // per-(j, code, pos) partial sums
      val cbLit = typedLit(cents.map(_.toSeq).toSeq)
      val assigned = e
        .select(graft.functions.PqCodes.pq_encode(col("qv"), cbLit, m)
                  .as("codes"),
                posexplode(col("qv")).as(Seq("p", "x")))
        .select(expr(s"cast(p div $subDim as int)").as("j"),
                expr(s"codes[p div $subDim]").as("code"),
                expr(s"cast(p % $subDim as int)").as("pos"), col("x"))
      val sums = assigned
        .groupBy("j", "code", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val (j, c, pos) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(c)(j * subDim + pos) =
          math.round(r.getLong(3).toDouble / r.getLong(4))
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Total PQ quantization error (sum over corpus and subspaces of the
    * min distance² to the codebook) — the objective Lloyd's minimizes;
    * specs assert training never regresses it. */
  def pqQuantError(s: SparkSession, d: String,
      cents: Array[Array[Long]], m: Int = M): Long = {
    val subDim = DIM / m
    val kpq = cents.length
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("qv", "nrm").filter(col("nrm") > 0)
    // per-row error = Σ_j min_c dist² — the row minima read straight
    // off the native flat ADC table
    e.select(graft.functions.PqCodes
               .pq_adc_table(col("qv"),
                 typedLit(cents.map(_.toSeq).toSeq), m).as("t"))
      .select(expr(
        s"""aggregate(transform(sequence(0, ${m - 1}, 1), j ->
              array_min(slice(t, j * $kpq + 1, $kpq))),
            0L, (acc, x) -> acc + x)""").as("err"))
      .agg(sum("err")).collect()(0).getLong(0)
  }

  /** Product-quantization top-k (IVF-PQ's compression half):
    *
    *  1. Codebook: per subspace, the sub-vectors of the first KPQ corpus
    *     vectors (the same oracle-stable seed convention as IVF; swap in
    *     trained sub-k-means centroids and nothing downstream changes).
    *     KPQ×DIM ints — driver-held index metadata, broadcast.
    *  2. Encode: each corpus vector → M argmin-codes, computed NARROWLY
    *     (no shuffle, no join) from inlined centroid literals with the
    *     native array_dot_long for every distance term. At 100 TB the
    *     codes table is the stored artifact: M bytes/vector, ~3% of the
    *     raw embedding bytes.
    *  3. Search: per query, an ADC distance table (M×KPQ ints) is
    *     computed once, broadcast, and the corpus scan sums M table
    *     lookups per row — never touching raw vectors. One window
    *     shuffle for the per-query top-k, same as brute force.
    *
    * All arithmetic is exact int64 (squared L2 on the quantized grid),
    * so results are bit-identical to the DuckDB oracle; approx_dist is
    * the PQ-approximated squared distance itself. */
  def pqTopK(s: SparkSession, d: String, m: Int = M, kpq: Int = KPQ,
      k: Int = 10,
      codebook: Option[Array[Array[Long]]] = None): DataFrame = {
    val subDim = DIM / m
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    // codebook: first kpq vectors by default (bounded driver metadata,
    // like the k-means sweep sums; the oracle-stable seed convention) —
    // pass [[pqTrainedCodebook]] for the trained quantizer, zero plan
    // change (PqSpec proves training monotonically cuts the
    // quantization error)
    val cents: Array[Array[Long]] = codebook.getOrElse(
      e.filter(col("vec_id") < kpq)
        .orderBy("vec_id").select("qv").collect()
        .map(_.getSeq[Long](0).toArray))
    // guards, not a fixed-length require: a corpus where some of the
    // first kpq vec_ids are missing/zero-norm still yields a VALID
    // (smaller) codebook — the ADC stride below follows the actual
    // length; only a truly empty or ragged codebook is an error
    val kEff = cents.length
    require(kEff > 0,
      s"PQ codebook is empty: no vectors with vec_id < $kpq and positive " +
      "norm — pass a trained codebook (pqTrainedCodebook)")
    require(cents.forall(_.length == DIM),
      s"PQ codebook rows must all have dim $DIM, got lengths " +
      cents.map(_.length).distinct.mkString(","))
    // ONE codebook literal (kpq×DIM ints) feeding the native kernels.
    // Composing encode from built-ins needs m×kpq inlined centroid
    // literals + 3 dots per cell — a ~400-node tree whose analysis and
    // codegen time dominated the whole gate (4 s for a 2 k-row corpus);
    // graft.functions.{PqEncode, PqAdcTable} collapse it to one node
    // each with a tight generated loop.
    val cbLit = typedLit(cents.map(_.toSeq).toSeq)

    // encode: per subspace, argmin dist² with ties to the lower code —
    // narrow, zero-shuffle, whole-stage-codegen'd
    import graft.functions.PqCodes.{pq_encode, pq_adc_table}
    val codes = e.select(col("vec_id"), pq_encode(col("qv"), cbLit, m).as("codes"))

    // per-query ADC table: flat m×kpq, t[j*kpq + c] = dist²(subvec_j,
    // cent(c, j))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"),
              pq_adc_table(col("qv"), cbLit, m).as("t"))

    // ADC scan: M table lookups per (corpus row, query) — codes only,
    // raw vectors never reach this join. Stride is the ACTUAL codebook
    // length (pq_adc_table lays the table out as m × |codebook|).
    val approx = (0 until m).map(j =>
      expr(s"t[$j * $kEff + codes[$j]]")).reduce(_ + _)
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("approx_dist", approx)
    scored.withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("approx_dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "approx_dist")
  }

  /** IVF-PQ — the composition billion-vector indexes actually deploy
    * (FAISS `IVFx,PQy`): the IVF coarse quantizer bounds WHERE to look
    * (nprobe cells per query), PQ bounds WHAT each candidate costs to
    * score (M byte codes + table lookups, raw vectors never touched in
    * the scan). This is the `by_residual=false` variant — one GLOBAL
    * codebook, so one ADC table per query serves every probed cell
    * (residual encoding would need nprobe per-cell tables per query;
    * the global-table tradeoff is exactly what FAISS's option toggles).
    *
    * The third stage is FAISS's too: the ADC scan selects a SHORTLIST
    * (`rerank` per query), then an exact integer-L2 re-rank touches raw
    * vectors for shortlist rows only. Measured on this corpus
    * (vs exact-L2 top-10): ADC-only ordering
    * recalls 0.36; shortlist 40 → 0.78; shortlist 100 → 0.88 (sf0.001)
    * / 0.92 (sf0.01) and SATURATES — the residual misses are IVF cell
    * misses, so past that point nprobe is the binding knob, not the
    * shortlist.
    *
    * Scale shape: candidate volume = nprobe/nlist of the corpus (IVF),
    * each candidate scored by M integer lookups (PQ), both index
    * artifacts (cell map: 8 B/vec; codes: M B/vec) persistable and
    * probed incrementally; the exact re-rank is nq × rerank by-id
    * lookups. The prunings compose multiplicatively — the scan does
    * nprobe/nlist × M/DIM of brute-force work plus a constant-bounded
    * re-rank. */
  /** SessionMemo key of the memoized IVF-PQ index (spec hook). */
  private[graft] def ivfpqIdxKey(d: String, nlist: Int, m: Int,
      kpq: Int): Any = ("ann_ivfpq_idx", d, nlist, m, kpq)

  def ivfpqTopK(s: SparkSession, d: String, nlist: Int = NLIST,
      nprobe: Int = NPROBE, m: Int = M, kpq: Int = KPQ,
      k: Int = 10, rerank: Int = 100,
      centroids: Option[DataFrame] = None,
      codebook: Option[Array[Array[Long]]] = None): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    val cents = centroids.getOrElse(
      e.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"), col("qv").as("cqv"),
                col("nrm").as("cnrm")))
    val assigned = e.join(broadcast(cents))
      .withColumn("dot", array_dot_long(col("qv"), col("cqv")))
      .withColumn("dist",
        col("nrm") - lit(2L) * col("dot") + col("cnrm"))
    val cells = coarseCells(assigned)
    // global PQ codebook (same seed convention as pqTopK; pass
    // pqTrainedCodebook for the trained quantizer — zero plan change)
    val cbRows = codebook.getOrElse(
      e.filter(col("vec_id") < kpq)
        .orderBy("vec_id").select("qv").collect()
        .map(_.getSeq[Long](0).toArray))
    require(cbRows.nonEmpty, "IVF-PQ codebook is empty")
    val kEff = cbRows.length
    val cbLit = typedLit(cbRows.map(_.toSeq).toSeq)
    import graft.functions.PqCodes.{pq_encode, pq_adc_table}
    // the stored index: cell + codes per vector (8 + M bytes/vec,
    // ~2% of raw). Memoized per (dir, knobs) and PERSISTED, like the
    // LSH band index and the phash index — at 100 TB this table is
    // built once per ingest and every query session probes it; a
    // re-invocation here measures exactly that steady-state.
    def buildIdx = cells.select(col("vec_id"), col("cell"),
      pq_encode(col("qv"), cbLit, m).as("codes"))
    // custom centroids/codebook bypass the cache — the key doesn't
    // describe them, and a trained index must not shadow the seed one
    val codes =
      if (centroids.isEmpty && codebook.isEmpty)
        graft.core.SessionMemo.getOrElseUpdate(
          s, ivfpqIdxKey(d, nlist, m, kpq))(buildIdx
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else buildIdx
    val qprobe = assigned.filter(col("vec_id") < 5)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cid").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"),
              pq_adc_table(col("qv"), cbLit, m).as("t"))
    val approx = (0 until m).map(j =>
      expr(s"t[$j * $kEff + codes[$j]]")).reduce(_ + _)
    val shortlist = codes.join(broadcast(qprobe), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(q), "qid")
      .withColumn("approx_dist", approx)
      .withColumn("srn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("approx_dist").asc, col("vec_id").asc)))
      .filter(col("srn") <= rerank)
      .select("qid", "vec_id")
    // exact re-rank: only the ≤ rerank shortlist rows per query ever
    // touch raw vectors — two by-id lookups + integer L2, the stage
    // that turns ADC's approximate ordering into exact ranks
    val qraw = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
              col("nrm").as("qnrm"))
    shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(qraw), Seq("qid"))
      .withColumn("dist",
        col("nrm") - lit(2L) * array_dot_long(col("qqv"), col("qv")) +
          col("qnrm"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "dist")
  }

  /** Batch predicate for the incremental-ingest ANN gate: every 10th
    * vector from KPQ up is "today's ingest" (ids < KPQ stay in the
    * corpus so the deployed centroid/codebook seeds never move —
    * retraining the quantizer is a separate rollout, see
    * [[deployedCentroids]]). Scale-proportional across fixtures, like
    * dedup_incremental's doc_id % 10 split. */
  private def isNewVec =
    col("vec_id") % 10 === 7 && col("vec_id") >= KPQ

  /** SessionMemo key of the incremental gate's corpus IVF-PQ index. */
  private[graft] def annIncIdxKey(d: String): Any =
    ("ann_inc_idx", d, NLIST, M, KPQ)

  /** Incremental ANN ingest — the daily-pipeline twin of
    * [[dedup_incremental]]: the established corpus owns a PERSISTED
    * IVF-PQ index (cell + M byte codes per vector, built once and
    * memoized via SessionMemo; in production a stored table appended
    * per ingest), and a new batch probes it for nearest established
    * neighbours WITHOUT rebuilding cells or codebook. Per-ingest cost
    * is O(batch × probed-cells-fraction), never O(corpus re-encode):
    * the corpus is touched only through its ~2%-of-raw codes index and
    * the by-id raw lookup for the re-rank shortlist.
    *
    * Batch-side work is narrow: assign each new vector to its nprobe
    * nearest cells and build its ADC table against the broadcast
    * centroid/codebook metadata, then equi-join the codes index on
    * cell. The ADC-table join keys on qid WITHOUT a broadcast hint —
    * the batch is operationally bounded but not driver-tiny, so at
    * scale it shuffle-joins; the cell fanout (batch × nprobe vs corpus
    * index) dominates either way. Exact integer re-rank of the
    * shortlist makes the output deterministic and DuckDB-oracled,
    * same as [[ivfpqTopK]]'s third stage. */
  def incrementalTopK(s: SparkSession, d: String, k: Int = 5,
      nprobe: Int = NPROBE, rerank: Int = 50): DataFrame = {
    val ctx = incIndexCtx(s, d)
    probeIncIdx(ctx, ctx.idx, k, nprobe, rerank)
  }

  /** The shared setup of the incremental-ingest gates: corpus/batch
    * split, broadcastable centroid metadata, collected codebook
    * (bounded: KPQ × DIM longs), and the memoized persisted IVF-PQ
    * codes index. */
  private final case class IncCtx(corpus: DataFrame, batch: DataFrame,
      cents: DataFrame, cbLit: org.apache.spark.sql.Column, kEff: Int,
      idx: DataFrame)

  private def assignCents(df: DataFrame, cents: DataFrame): DataFrame =
    df.join(broadcast(cents))
      .withColumn("dot", array_dot_long(col("qv"), col("cqv")))
      .withColumn("dist",
        col("nrm") - lit(2L) * col("dot") + col("cnrm"))

  private def incIndexCtx(s: SparkSession, d: String): IncCtx = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    val corpus = e.filter(!isNewVec)
    val batch = e.filter(isNewVec)
    val cents = corpus.filter(col("vec_id") < NLIST)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"),
              col("nrm").as("cnrm"))
    val cbRows = corpus.filter(col("vec_id") < KPQ)
      .orderBy("vec_id").select("qv").collect()
      .map(_.getSeq[Long](0).toArray)
    require(cbRows.nonEmpty, "incremental ANN codebook is empty")
    val cbLit = typedLit(cbRows.map(_.toSeq).toSeq)
    import graft.functions.PqCodes.pq_encode
    val corpusIdx = graft.core.SessionMemo.getOrElseUpdate(
      s, annIncIdxKey(d))(
      coarseCells(assignCents(corpus, cents))
        .select(col("vec_id"), col("cell"),
          pq_encode(col("qv"), cbLit, M).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    IncCtx(corpus, batch, cents, cbLit, cbRows.length, corpusIdx)
  }

  /** The probe stage of [[incrementalTopK]] against an EXPLICIT codes
    * index frame — separated from the index build so the delete gate
    * can probe a tombstone-filtered or compacted index through the
    * identical pipeline: batch cell assignment, ADC shortlist against
    * `idx`, exact integer re-rank. */
  private def probeIncIdx(ctx: IncCtx, idx: DataFrame, k: Int,
      nprobe: Int, rerank: Int): DataFrame = {
    import graft.functions.PqCodes.pq_adc_table
    val qprobe = assignCents(ctx.batch, ctx.cents)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cid").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val qt = ctx.batch.select(col("vec_id").as("qid"),
      pq_adc_table(col("qv"), ctx.cbLit, M).as("t"))
    val approx = (0 until M).map(j =>
      expr(s"t[$j * ${ctx.kEff} + codes[$j]]")).reduce(_ + _)
    val shortlist = idx.join(broadcast(qprobe), "cell")
      .join(qt, "qid")
      .withColumn("approx_dist", approx)
      .withColumn("srn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("approx_dist").asc, col("vec_id").asc)))
      .filter(col("srn") <= rerank)
      .select("qid", "vec_id")
    val qraw = ctx.batch.select(col("vec_id").as("qid"),
      col("qv").as("qqv"), col("nrm").as("qnrm"))
    shortlist
      .join(ctx.corpus, Seq("vec_id"))
      .join(qraw, Seq("qid"))
      .withColumn("dist",
        col("nrm") - lit(2L) * array_dot_long(col("qqv"), col("qv")) +
          col("qnrm"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "dist")
  }

  /** Tombstone set for [[deleteCompactTopK]]: an established-corpus
    * slice (disjoint from the ingest batch by construction — deleted
    * ids are corpus rows). Ids below NLIST/KPQ may be tombstoned as
    * DATA while still serving as centroid/codebook GEOMETRY: deleting
    * a vector removes it from search results, not from the trained
    * quantizer — retraining is a separate rollout
    * ([[deployedCentroids]]). */
  private[graft] def isDeletedVec = col("vec_id") % 17 === 3

  /** ANN index maintenance — deletes and compaction on the persisted
    * IVF-PQ index, the lifecycle step after [[incrementalTopK]]'s
    * additive ingest: a real vector store must (a) stop serving
    * deleted vectors IMMEDIATELY (tombstones: the probe anti-joins the
    * narrow delete set against the codes index — O(index), the raw
    * corpus is never re-encoded) and (b) eventually RECLAIM their
    * index space (compaction: the stored index table is rewritten
    * minus tombstones into byte-targeted files via the same machinery
    * as `write_compacted`, after which the tombstone set resets to
    * empty). The gate probes BOTH states through the identical
    * pipeline and returns the union labeled by `stage` — the oracle
    * expects the two stages row-identical, so any tombstone leaking
    * into the compacted index (or compaction changing results) is a
    * hash mismatch, not just a spec failure. */
  def deleteCompactTopK(s: SparkSession, d: String, k: Int = 5,
      nprobe: Int = NPROBE, rerank: Int = 50): DataFrame = {
    val ctx = incIndexCtx(s, d)
    val tombstones = ctx.idx.filter(isDeletedVec).select("vec_id")
    val live = ctx.idx.join(tombstones, Seq("vec_id"), "left_anti")
    val fromTombstoned = probeIncIdx(ctx, live, k, nprobe, rerank)
      .withColumn("stage", lit("tombstoned"))
    // the stored index table + its compaction: built ONCE per (JVM,
    // fixture) — in production this is the durable appended-per-ingest
    // index table and its maintenance job, not per-query work; probes
    // serve from it (the same memoized-artifact discipline as
    // dedup_incremental / ann_incremental_topk). Content is a pure
    // function of the fixture, so reuse across invocations is sound.
    val (_, compDir) = storedIdx.getOrElseUpdate(d, {
      val idxDir = WriteOps.scratch(s"ann_idx_${d.hashCode.toHexString}")
      val cDir = WriteOps.scratch(
        s"ann_idx_compacted_${d.hashCode.toHexString}")
      ctx.idx.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(idxDir)
      WriteOps.compact(s, idxDir, cDir, targetFileBytes = 1L << 20,
        transform = df =>
          df.join(tombstones, Seq("vec_id"), "left_anti"))
      (idxDir, cDir)
    })
    // byte-targeted compaction yields few fat files — re-spread the
    // codes for the probe's distance math (scan splits ≠ kernel width)
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val fromCompacted =
      probeIncIdx(ctx, s.read.parquet(compDir).repartition(width),
          k, nprobe, rerank)
        .withColumn("stage", lit("compacted"))
    fromTombstoned.unionByName(fromCompacted)
  }

  // per-(JVM, fixture) marker for the durably-stored index + compaction
  // (paths only — no DataFrame/session pinned)
  private val storedIdx =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Scalar-quantization (SQ8) top-k — the third real index family next
    * to IVF (coarse) and PQ (product): each dimension is affinely mapped
    * onto 0..255, so a stored vector is DIM single bytes (8× smaller
    * than the int64 grid, 4× smaller than float32) with NO codebook to
    * train. The search is asymmetric ADC — the query stays at full
    * resolution against dequantized corpus codes — computed exactly:
    *
    *   255²·dist² ≈ Σᵢ (255·(qᵢ−mnᵢ) − codeᵢ·(mxᵢ−mnᵢ))²
    *
    * i.e. both sides are scaled onto one integer grid (uq / uc below)
    * and the scan is the dot identity |uq|² − 2·uq·uc + |uc|² on the
    * native codegen'd kernel — raw corpus vectors never reach the join.
    *
    * Per-dim [mn,mx] is one 64-key map-side-combined aggregation whose
    * 64-row result is driver-held index metadata (the same bounded
    * protocol as the IVF/PQ codebooks), inlined back as literals. The
    * encode pass is narrow and runs ONCE — at 100 TB the codes table is
    * the persisted artifact, like PQ's. Round-half-up encode is exact
    * integer ((a·510 + span) div (2·span)), so codes, scaled grids, and
    * distances are all bit-identical to the DuckDB oracle. */
  def sq8TopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select("vec_id", "qv", "nrm").filter(col("nrm") > 0)
    val mm = e.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("pos").collect()
    require(mm.length == DIM, s"expected $DIM per-dim ranges, got ${mm.length}")
    val mn = mm.map(_.getLong(1))
    val span = mm.map(r => r.getLong(2) - r.getLong(1))
    val mnLit = mn.map(v => s"${v}L").mkString(", ")
    val spLit = span.map(v => s"${v}L").mkString(", ")
    // encode + dequantize onto the 255× grid in one narrow pass, pure
    // zip_with over the literal arrays — an `array(...)[i]` subscript
    // inside a transform lambda is NOT constant-folded (the 64-element
    // CreateArray re-evaluates per element per row; measured 7×
    // slower at sf0.1), while zip_with iterates the folded
    // literal once per row. A constant dimension (span 0) contributes
    // 0 from both sides by construction.
    val corpus = e
      .withColumn("am", expr(
        s"zip_with(qv, array($mnLit), (x, mn) -> x - mn)"))
      .withColumn("codes", expr(
        s"""zip_with(am, array($spLit), (a, sp) ->
              CASE WHEN sp = 0L THEN 0L
              ELSE (a * 510L + sp) div (2L * sp) END)"""))
      .withColumn("uc", expr(
        s"zip_with(codes, array($spLit), (c, sp) -> c * sp)"))
      .withColumn("ucn", array_dot_long(col("uc"), col("uc")))
      .select("vec_id", "uc", "ucn")
    val q = e.filter(col("vec_id") < 5)
      .withColumn("uq", expr(
        s"zip_with(qv, array($mnLit), (x, mn) -> 255L * (x - mn))"))
      .withColumn("uqn", array_dot_long(col("uq"), col("uq")))
      .select(col("vec_id").as("qid"), col("uq"), col("uqn"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sq_dist",
        col("uqn") - lit(2L) * array_dot_long(col("uq"), col("uc")) +
          col("ucn"))
    scored.withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sq_dist").asc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "rn", "sq_dist")
  }

  /** Near-duplicate pairs: candidates share an LSH bucket; verify with
    * exact quantized cosine > `simThreshold`. The verify join is
    * quadratic WITHIN a bucket — `nplanes` is the knob that keeps
    * buckets small as the corpus grows (expected bucket size
    * n / 2^nplanes for centered data). */
  def neardupPairs(s: SparkSession, d: String, nplanes: Int = NPLANES,
      simThreshold: Double = 0.8): DataFrame = {
    val e = quantized(Tables.embeddingsSpread(s, d))
      .select(col("vec_id"), col("qv"), col("nrm"),
              bucketExpr(nplanes).as("bucket"))
      .filter(col("nrm") > 0)
    val a = e.select(col("bucket"), col("vec_id").as("id_a"),
                     col("qv").as("qv_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("bucket"), col("vec_id").as("id_b"),
                     col("qv").as("qv_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot", array_dot_long(col("qv_a"), col("qv_b")))
      .withColumn("sim",
        col("dot").cast("double") /
          (sqrt(col("nrm_a").cast("double")) *
           sqrt(col("nrm_b").cast("double"))))
      .filter(col("sim") > simThreshold)
      .select("id_a", "id_b", "sim").distinct()
  }

  /** Recall@10 of the IVF index against the exact brute-force scan —
    * the quality metric an ANN deployment actually monitors, promoted
    * from spec-only to an oracled gate. Per-query overlap rows plus the
    * corpus-level recall (the monitored aggregate; individual queries
    * legitimately dip at nprobe=4 — that IS the IVF tradeoff the report
    * exists to expose). All arithmetic is exact — integer overlap
    * counts, integer window sum, one IEEE division per ratio — so
    * DuckDB computes the identical join; `meets_target` asserts the
    * ≥0.9 corpus bar via an integer compare. */
  def recallReport(s: SparkSession, d: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val bf = bruteforceTopK(s, d, k).select(col("qid"), col("vec_id"))
    // three arms: the DEPLOYED index (the gate path — what ann_ivf_topk
    // serves), the incumbent seed cells, and the trained candidate.
    // `promoted` re-derives the rollout verdict from the same overlap
    // metric the promotion used (trained ≥ seed on the validation
    // queries), and `deployed_ge_seed` is the rollout invariant the
    // report exists to monitor: deployment never regresses recall.
    val (_, trainedRows, _) = deployedCentroids(s, d)
    val iv = ivfTopK(s, d, k = k,
        centroids = Some(deployedCentroidFrame(s, d)))
      .select(col("qid"), col("vec_id"))
    val ivSeed = ivfTopK(s, d, k = k).select(col("qid"), col("vec_id"))
    val ivTrained = ivfTopK(s, d, k = k,
        centroids = Some(centroidFrame(s, trainedRows)))
      .select(col("qid"), col("vec_id"))
    val all = Window.partitionBy()
    // start from EVERY query bf knows: a query whose probe set misses
    // all k exact neighbours must surface as n_overlap = 0, not vanish
    // from the report (an inner-join-then-group would drop it and
    // overstate the average)
    // every frame here is ≤ k×nQueries rows (50) — broadcast the join
    // build sides so the report composes as hash joins instead of the
    // SMJ towers size-estimation picked blind behind the windows
    // (guide §3.1: force the strategy when you know a side is small;
    // r17 plan audit: 10 SortMergeJoins → 0)
    def overlap(ann: DataFrame, as: String) = bf
      .join(broadcast(ann.withColumn("hit", lit(1))),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid").agg(coalesce(sum("hit"), lit(0L)).as(as))
    overlap(iv, "n_overlap")
      .join(broadcast(overlap(ivSeed, "n_overlap_seed")), Seq("qid"))
      .join(broadcast(overlap(ivTrained, "n_overlap_trained")), Seq("qid"))
      .withColumn("corpus_overlap", sum("n_overlap").over(all))
      .withColumn("corpus_overlap_seed",
        sum("n_overlap_seed").over(all))
      .withColumn("corpus_overlap_trained",
        sum("n_overlap_trained").over(all))
      .select(col("qid"), lit(k).as("k"), col("n_overlap"),
        (col("n_overlap").cast("double") / k).as("recall"),
        col("corpus_overlap"),
        (col("corpus_overlap").cast("double") / (k * nQueries))
          .as("corpus_recall"),
        (col("corpus_overlap") >= (k * nQueries * 9 + 9) / 10)
          .as("meets_target"),
        col("n_overlap_seed"), col("corpus_overlap_seed"),
        col("n_overlap_trained"), col("corpus_overlap_trained"),
        (col("corpus_overlap_trained") >= col("corpus_overlap_seed"))
          .as("promoted"),
        (col("corpus_overlap") >= col("corpus_overlap_seed"))
          .as("deployed_ge_seed"))
  }

  /** Hybrid retrieval via Reciprocal-Rank Fusion (Cormack/Clarke/
    * Buettcher 2009, k = 60) — the production RAG pattern: a lexical
    * arm and a vector arm each retrieve a bounded candidate list per
    * query, and the fused score Σ 1/(60 + rank) rewards documents that
    * rank well in EITHER modality without ever comparing the arms'
    * incommensurable raw scores. Queries are the doc_id < 5 documents
    * ("more like this"); the lexical arm ranks by distinct-2-gram
    * Jaccard (the dedup_ngram_jaccard shape: explode → shingle
    * equi-join → group-count, never pairwise set ops), the vector arm
    * by exact integer cosine over the id-aligned embeddings.
    *
    * Determinism: each arm's rank is an integer from an exactly-ordered
    * window (double compares + doc_id tie-break); the fused score is
    * two exactly-rounded IEEE divisions and one addition in a fixed
    * expression order — bit-identical in DuckDB.
    *
    * 100 TB shape: each arm is already candidate-bounded (armK per
    * query) before fusion, so the fusion join carries ≤ 2·armK narrow
    * (qid, doc_id, rank) rows per query whatever the corpus size. At
    * scale the vector arm swaps for the deployed IVF-PQ probe and the
    * lexical arm for a df-capped inverted index — both existing gates —
    * with the same (qid, doc_id, rank) contract into this fusion. */
  def hybridRrf(s: SparkSession, d: String, armK: Int = 50,
      topK: Int = 10): DataFrame = {
    val vec = bruteforceTopK(s, d, armK)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rn").as("r_vec"))
    val sh = Tables.documents(s, d)
      .withColumn("toks", split(lower(trim(col("text"))), " "))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.NgramShingles
          .ngram_shingles(col("toks"), 2))).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val q = sh.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("sh"))
    // the query side is <= 5 docs' distinct shingles — broadcast it so
    // the corpus-side posting stream never shuffles for the probe
    val inter = sh.join(broadcast(q), Seq("sh"))
      .filter(col("qid") =!= col("doc_id"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("inter"))
    val wl = Window.partitionBy("qid")
      .orderBy(col("jaccard").desc, col("doc_id").asc)
    val lex = inter
      .join(sizes.select(col("doc_id").as("qid"), col("sz").as("sz_q")),
            Seq("qid"))
      .join(sizes.select(col("doc_id"), col("sz").as("sz_d")),
            Seq("doc_id"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_q") + col("sz_d") - col("inter")))
      .withColumn("r_lex", row_number().over(wl))
      .filter(col("r_lex") <= armK)
      .select(col("qid"), col("doc_id"), col("r_lex"))
    // both arms are BOUNDED at nQueries·armK rows by construction
    // (row_number ≤ armK per qid before the join), so the full-outer
    // fuse never needs a sort: shuffled-hash handles FullOuter since
    // Spark 3.1 and a ≤(queries·k)-row build side cannot skew or
    // overflow a partition at any corpus scale (guide §3.1; broadcast
    // cannot serve a full-outer equi-join, SHJ is the next best)
    val fused = vec.join(lex.hint("shuffle_hash"),
        Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)))
    val wf = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("doc_id"), col("r_vec"), col("r_lex"),
        col("rrf"), col("rn"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bruteforce_topk" -> ((s, d) => bruteforceTopK(s, d)),
    // RRF fusion of the lexical and vector arms — see hybridRrf
    "search_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "ann_lsh_buckets" -> ((s, d) => lshBuckets(s, d)),
    // validated-promotion quantizer on the oracled path (seed cells
    // remain the fallback default of ivfTopK for callers without a
    // deployed index) — see deployedCentroids
    "ann_ivf_topk" -> ((s, d) =>
      ivfTopK(s, d, centroids = Some(deployedCentroidFrame(s, d)))),
    "ann_pq_topk" -> ((s, d) => pqTopK(s, d)),

    // IVF coarse pruning × PQ byte-code scoring — the deployed
    // composition (see ivfpqTopK's scaladoc).
    "ann_ivfpq_topk" -> ((s, d) => ivfpqTopK(s, d)),
    "ann_sq8_topk" -> ((s, d) => sq8TopK(s, d)),

    // Filtered vector search (the RAG-retrieval staple: "nearest docs
    // FROM source X"): the metadata predicate joins embeddings to the
    // documents table by id and lands as a semi-join INSIDE the IVF
    // scan — eligible ids prune candidates before any distance math
    // (pre-filter; a post-filtered top-k under-returns on selective
    // predicates). The id list is narrow however wide the metadata is.
    "ann_filtered_topk" -> ((s, d) => {
      val eligible = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .select(col("doc_id").as("vec_id"))
      ivfTopK(s, d, centroids = Some(deployedCentroidFrame(s, d)),
        eligible = Some(eligible))
    }),
    "ann_recall_report" -> ((s, d) => recallReport(s, d)),

    // Incremental ingest: a new batch probes the memoized corpus
    // IVF-PQ index for nearest established neighbours — no cell or
    // codebook rebuild (AnnIncrementalSpec asserts the reuse).
    "ann_incremental_topk" -> ((s, d) => incrementalTopK(s, d)),
    "ann_delete_compact" -> ((s, d) => deleteCompactTopK(s, d)),
    "dedup_semantic" -> ((s, d) => semanticDedup(s, d)),
    "embedding_neardup" -> ((s, d) => neardupPairs(s, d))
  )

  private def bfOracle: String =
    s"""WITH $oracleQuantCte,
         q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM n
               WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, n.vec_id,
             cast(list_aggregate(list_transform(range(1, $DIM + 1),
               i -> q.qqv[i] * n.qv[i]), 'sum') as bigint) AS dot,
             q.qnrm, n.nrm
           FROM n, q WHERE n.vec_id != q.qid
             AND n.nrm > 0 AND q.qnrm > 0),
         ranked AS (
           SELECT qid, vec_id,
             cast(dot as double) /
               (sqrt(cast(qnrm as double)) * sqrt(cast(nrm as double)))
               AS sim
           FROM scored)
         SELECT qid, vec_id, rn, sim FROM (
           SELECT qid, vec_id, sim,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, vec_id ASC) as int) AS rn
           FROM ranked) WHERE rn <= 10"""

  private def seedCentsSql: String =
    s"""SELECT vec_id AS cid, qv AS cqv, nrm AS cnrm
                   FROM e2 WHERE vec_id < $NLIST"""

  /** IVF oracle over an arbitrary centroid relation: the trained
    * VALUES literal on the gate path, the seed subquery for the
    * seed-recall comparison inside ann_recall_report. */
  private def ivfOracleCents(centsSql: String): String =
    s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv, nrm FROM n WHERE nrm > 0),
         cents AS ($centsSql),
         assigned AS (
           SELECT e2.vec_id, cents.cid, e2.qv, e2.nrm,
             e2.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> e2.qv[i] * cents.cqv[i]), 'sum')
               as bigint) + cents.cnrm AS dist
           FROM e2, cents),
         cells AS (
           SELECT vec_id, cid AS cell, qv, nrm FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS arn
             FROM assigned) WHERE arn = 1),
         qprobe AS (
           SELECT vec_id AS qid, cid AS cell FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS prn
             FROM assigned WHERE vec_id < 5) WHERE prn <= $NPROBE),
         q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm
               FROM e2 WHERE vec_id < 5),
         cand AS (
           SELECT p.qid, c.vec_id,
             cast(cast(list_aggregate(list_transform(range(1, $DIM + 1),
               i -> q.qqv[i] * c.qv[i]), 'sum') as bigint) as double) /
               (sqrt(cast(q.qnrm as double)) * sqrt(cast(c.nrm as double)))
               AS sim
           FROM qprobe p
           JOIN cells c ON p.cell = c.cell AND c.vec_id != p.qid
           JOIN q ON q.qid = p.qid)
         SELECT qid, vec_id, rn, sim FROM (
           SELECT qid, vec_id, sim,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, vec_id ASC) as int) AS rn
           FROM cand) WHERE rn <= 10"""

  /** The gate-path IVF oracle: the deployed (validated-promotion)
    * centroids when this JVM ran a promotion (always true when the gate
    * ran), seed fallback otherwise. */
  private def ivfOracle: String =
    ivfOracleCents(deployedCentsValuesSql.map(_._1).getOrElse(seedCentsSql))

  /** The filtered-search oracle IS the IVF oracle with the eligibility
    * semi-join spliced into its candidate step — string surgery keeps
    * the two in lockstep (any fix to ivfOracle flows through). doc_id
    * is unique, so the inner join is an exact semi-join. */
  private def filteredIvfOracle: String = {
    val marker = "JOIN cells c ON p.cell = c.cell AND c.vec_id != p.qid"
    require(ivfOracle.contains(marker), "ivfOracle shape changed")
    ivfOracle.replace(marker,
      marker + """
           JOIN (SELECT doc_id AS fvid FROM documents
                 WHERE source IN ('src0','src1','src2','src3')) f
             ON f.fvid = c.vec_id""")
  }

  /** `def`, NOT `val`: the IVF oracles must see the trained-centroid
    * cache as populated by the gate runs, and SparkEntry.oracleSql is
    * dumped AFTER every gate has executed — a val would freeze the
    * seed fallback at object-init time. */
  /** The incremental-ingest probe oracle (mirrors [[incrementalTopK]])
    * with a candidate-side filter hook: `candFilter` restricts which
    * index entries (`cm` = the corpus cellmap) the shortlist may draw
    * from — `TRUE` for the plain ingest gate, the tombstone exclusion
    * for [[deleteCompactTopK]]. */
  private def incProbeOracleSql(candFilter: String): String = {
    val isNew = s"(vec_id % 10 = 7 AND vec_id >= $KPQ)"
    s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv, nrm FROM n WHERE nrm > 0),
         ivfc AS (SELECT vec_id AS cid, qv AS cqv, nrm AS cnrm
                  FROM e2 WHERE vec_id < $NLIST),
         assigned AS (
           SELECT e2.vec_id, ivfc.cid,
             e2.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> e2.qv[i] * ivfc.cqv[i]), 'sum')
               as bigint) + ivfc.cnrm AS dist
           FROM e2, ivfc),
         cellmap AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS arn
             FROM assigned WHERE NOT $isNew) WHERE arn = 1),
         qprobe AS (
           SELECT vec_id AS qid, cid AS cell FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS prn
             FROM assigned WHERE $isNew) WHERE prn <= $NPROBE),
         cents AS (SELECT vec_id AS c, qv AS cqv FROM e2
                   WHERE vec_id < $KPQ),
         sub AS (
           SELECT e2.vec_id, t.j, cents.c,
             cast(list_aggregate(list_transform(range(1, ${SUBDIM + 1}),
               i -> (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])
                  * (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])),
               'sum') as bigint) AS d
           FROM e2, range(0, $M) t(j), cents),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d ASC, c ASC) AS arn
             FROM sub WHERE NOT $isNew) WHERE arn = 1),
         qt AS (SELECT vec_id AS qid, j, c, d FROM sub WHERE $isNew),
         cand AS (
           SELECT p.qid, cm.vec_id
           FROM qprobe p JOIN cellmap cm ON cm.cell = p.cell
           WHERE $candFilter),
         adc AS (
           SELECT cand.qid, cand.vec_id,
             cast(sum(qt.d) as bigint) AS approx_dist
           FROM cand
           JOIN codes ON codes.vec_id = cand.vec_id
           JOIN qt ON qt.qid = cand.qid AND qt.j = codes.j
                  AND qt.c = codes.code
           GROUP BY cand.qid, cand.vec_id),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY approx_dist ASC, vec_id ASC) AS srn
             FROM adc) WHERE srn <= 50),
         rr AS (
           SELECT short.qid, short.vec_id,
             cn.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> qq.qv[i] * cn.qv[i]), 'sum')
               as bigint) + qq.nrm AS dist
           FROM short
           JOIN e2 cn ON cn.vec_id = short.vec_id
           JOIN e2 qq ON qq.vec_id = short.qid)
         SELECT qid, vec_id, rn, dist FROM (
           SELECT qid, vec_id, dist,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY dist ASC, vec_id ASC) as int) AS rn
           FROM rr) WHERE rn <= 5"""
  }

  /** Mirrors [[hybridRrf]] stage for stage: the vector arm is the
    * bfOracle ranking at armK = 50, the lexical arm the
    * dedup_ngram_jaccard ranking at armK = 50 over qid < 5, and the
    * fusion the same two exactly-rounded divisions + one addition. */
  private def hybridRrfOracle: String =
    s"""WITH $oracleQuantCte,
         q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM n
               WHERE vec_id < 5),
         vscored AS (
           SELECT q.qid, n.vec_id,
             cast(list_aggregate(list_transform(range(1, $DIM + 1),
               i -> q.qqv[i] * n.qv[i]), 'sum') as bigint) AS dot,
             q.qnrm, n.nrm
           FROM n, q WHERE n.vec_id != q.qid
             AND n.nrm > 0 AND q.qnrm > 0),
         varm AS (SELECT qid, doc_id, r_vec FROM (
           SELECT qid, vec_id AS doc_id,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY cast(dot as double) /
                 (sqrt(cast(qnrm as double)) * sqrt(cast(nrm as double)))
                 DESC, vec_id ASC) as int) AS r_vec
           FROM vscored) WHERE r_vec <= 50),
         t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
         shl AS (SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 1, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS shs
           FROM t),
         sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         lq AS (SELECT doc_id AS qid, sh FROM sh WHERE doc_id < 5),
         inter AS (
           SELECT lq.qid, sh.doc_id, count(*) AS inter
           FROM lq JOIN sh USING (sh) WHERE lq.qid != sh.doc_id
           GROUP BY lq.qid, sh.doc_id),
         lscored AS (
           SELECT i.qid, i.doc_id,
             cast(i.inter as double) / (sq.sz + sd.sz - i.inter) AS jaccard
           FROM inter i
           JOIN sizes sq ON sq.doc_id = i.qid
           JOIN sizes sd ON sd.doc_id = i.doc_id),
         larm AS (SELECT qid, doc_id, r_lex FROM (
           SELECT qid, doc_id,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY jaccard DESC, doc_id ASC) as int) AS r_lex
           FROM lscored) WHERE r_lex <= 50),
         fused AS (
           SELECT coalesce(v.qid, l.qid) AS qid,
             coalesce(v.doc_id, l.doc_id) AS doc_id, v.r_vec, l.r_lex,
             coalesce(cast(1 as double) / (60 + v.r_vec), 0.0) +
             coalesce(cast(1 as double) / (60 + l.r_lex), 0.0) AS rrf
           FROM varm v FULL OUTER JOIN larm l
             ON v.qid = l.qid AND v.doc_id = l.doc_id)
         SELECT qid, doc_id, r_vec, r_lex, rrf, rn FROM (
           SELECT qid, doc_id, r_vec, r_lex, rrf,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY rrf DESC, doc_id ASC) as int) AS rn
           FROM fused) WHERE rn <= 10"""

  def oracles: Map[String, String] = Map(
    "ann_bruteforce_topk" -> bfOracle,
    "search_hybrid_rrf" -> hybridRrfOracle,
    "ann_filtered_topk" -> filteredIvfOracle,
    "ann_lsh_buckets" -> oracleBucketSql,
    // bf vs the DEPLOYED ivf (the gate path), the SEED incumbent, and
    // the TRAINED candidate in one report: exact integer overlap
    // counts, one IEEE division per ratio; `promoted` re-derives the
    // rollout verdict (trained ≥ seed) and `deployed_ge_seed` states
    // the rollout invariant, both as integer compares
    "ann_recall_report" ->
      s"""WITH bf AS ($bfOracle),
         ivf AS ($ivfOracle),
         ivfseed AS (${ivfOracleCents(seedCentsSql)}),
         ivftr AS (${ivfOracleCents(
           deployedCentsValuesSql.map(_._2).getOrElse(seedCentsSql))}),
         ov AS (
           SELECT bf.qid,
             cast(count(ivf.vec_id) AS bigint) AS n_overlap
           FROM bf LEFT JOIN ivf
             ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id
           GROUP BY bf.qid),
         ovseed AS (
           SELECT bf.qid,
             cast(count(ivfseed.vec_id) AS bigint) AS n_overlap_seed
           FROM bf LEFT JOIN ivfseed
             ON bf.qid = ivfseed.qid AND bf.vec_id = ivfseed.vec_id
           GROUP BY bf.qid),
         ovtr AS (
           SELECT bf.qid,
             cast(count(ivftr.vec_id) AS bigint) AS n_overlap_trained
           FROM bf LEFT JOIN ivftr
             ON bf.qid = ivftr.qid AND bf.vec_id = ivftr.vec_id
           GROUP BY bf.qid)
         SELECT qid, 10 AS k, n_overlap,
           cast(n_overlap as double) / 10 AS recall,
           cast(sum(n_overlap) OVER () as bigint) AS corpus_overlap,
           cast(cast(sum(n_overlap) OVER () as bigint) as double) / 50
             AS corpus_recall,
           cast(sum(n_overlap) OVER () as bigint) >= 45 AS meets_target,
           n_overlap_seed,
           cast(sum(n_overlap_seed) OVER () as bigint)
             AS corpus_overlap_seed,
           n_overlap_trained,
           cast(sum(n_overlap_trained) OVER () as bigint)
             AS corpus_overlap_trained,
           cast(sum(n_overlap_trained) OVER () as bigint) >=
             cast(sum(n_overlap_seed) OVER () as bigint)
             AS promoted,
           cast(sum(n_overlap) OVER () as bigint) >=
             cast(sum(n_overlap_seed) OVER () as bigint)
             AS deployed_ge_seed
         FROM ov JOIN ovseed USING (qid) JOIN ovtr USING (qid)""",
    "ann_pq_topk" ->
      s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv FROM n WHERE nrm > 0),
         cents AS (SELECT vec_id AS c, qv AS cqv FROM e2
                   WHERE vec_id < $KPQ),
         sub AS (
           SELECT e2.vec_id, t.j, cents.c,
             cast(list_aggregate(list_transform(range(1, ${SUBDIM + 1}),
               i -> (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])
                  * (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])),
               'sum') as bigint) AS d
           FROM e2, range(0, $M) t(j), cents),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d ASC, c ASC) AS arn
             FROM sub) WHERE arn = 1),
         qt AS (SELECT vec_id AS qid, j, c, d FROM sub WHERE vec_id < 5),
         adc AS (
           SELECT qt.qid, codes.vec_id,
             cast(sum(qt.d) as bigint) AS approx_dist
           FROM codes JOIN qt ON qt.j = codes.j AND qt.c = codes.code
           WHERE codes.vec_id != qt.qid
           GROUP BY qt.qid, codes.vec_id)
         SELECT qid, vec_id, rn, approx_dist FROM (
           SELECT qid, vec_id, approx_dist,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY approx_dist ASC, vec_id ASC) as int) AS rn
           FROM adc) WHERE rn <= 10""",
    "ann_ivf_topk" -> ivfOracle,
    // incremental ingest: identical index CTEs to ann_ivfpq_topk, but
    // the cell map / codes come from the established corpus only and
    // the probe/ADC side is the new batch — corpus and batch are
    // disjoint, so no self-exclusion is needed in cand
    "ann_incremental_topk" -> incProbeOracleSql("TRUE"),

    // the delete gate = the incremental probe with the tombstone set
    // excluded from the candidate index, expected IDENTICAL from both
    // the tombstoned and the compacted index (CROSS JOIN on the stage
    // labels): a tombstone surviving compaction, or compaction changing
    // any result row, breaks the hash
    "ann_delete_compact" ->
      s"""SELECT r.qid, r.vec_id, r.rn, r.dist, s.stage
         FROM (${incProbeOracleSql("NOT (cm.vec_id % 17 = 3)")}) r
         CROSS JOIN (VALUES ('tombstoned'), ('compacted')) s(stage)""",
    // IVF cell membership bounds the candidates; the PQ `sub` distances
    // serve both the corpus encode (argmin per subspace) and the query
    // ADC tables, exactly as in the ann_pq_topk oracle
    "ann_ivfpq_topk" ->
      s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv, nrm FROM n WHERE nrm > 0),
         ivfc AS (SELECT vec_id AS cid, qv AS cqv, nrm AS cnrm
                  FROM e2 WHERE vec_id < $NLIST),
         assigned AS (
           SELECT e2.vec_id, ivfc.cid,
             e2.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> e2.qv[i] * ivfc.cqv[i]), 'sum')
               as bigint) + ivfc.cnrm AS dist
           FROM e2, ivfc),
         cellmap AS (
           SELECT vec_id, cid AS cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS arn
             FROM assigned) WHERE arn = 1),
         qprobe AS (
           SELECT vec_id AS qid, cid AS cell FROM (
             SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS prn
             FROM assigned WHERE vec_id < 5) WHERE prn <= $NPROBE),
         cents AS (SELECT vec_id AS c, qv AS cqv FROM e2
                   WHERE vec_id < $KPQ),
         sub AS (
           SELECT e2.vec_id, t.j, cents.c,
             cast(list_aggregate(list_transform(range(1, ${SUBDIM + 1}),
               i -> (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])
                  * (e2.qv[t.j * $SUBDIM + i] - cents.cqv[t.j * $SUBDIM + i])),
               'sum') as bigint) AS d
           FROM e2, range(0, $M) t(j), cents),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d ASC, c ASC) AS arn
             FROM sub) WHERE arn = 1),
         qt AS (SELECT vec_id AS qid, j, c, d FROM sub WHERE vec_id < 5),
         cand AS (
           SELECT p.qid, cm.vec_id
           FROM qprobe p JOIN cellmap cm
             ON cm.cell = p.cell AND cm.vec_id != p.qid),
         adc AS (
           SELECT cand.qid, cand.vec_id,
             cast(sum(qt.d) as bigint) AS approx_dist
           FROM cand
           JOIN codes ON codes.vec_id = cand.vec_id
           JOIN qt ON qt.qid = cand.qid AND qt.j = codes.j
                  AND qt.c = codes.code
           GROUP BY cand.qid, cand.vec_id),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY approx_dist ASC, vec_id ASC) AS srn
             FROM adc) WHERE srn <= 100),
         rr AS (
           SELECT short.qid, short.vec_id,
             cn.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> qq.qv[i] * cn.qv[i]), 'sum')
               as bigint) + qq.nrm AS dist
           FROM short
           JOIN e2 cn ON cn.vec_id = short.vec_id
           JOIN e2 qq ON qq.vec_id = short.qid)
         SELECT qid, vec_id, rn, dist FROM (
           SELECT qid, vec_id, dist,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY dist ASC, vec_id ASC) as int) AS rn
           FROM rr) WHERE rn <= 10""",
    // SQ8: the oracle recomputes the per-dim ranges inline (exact
    // integer min/max, so identical to the collected literals) and sums
    // the squared grid differences directly — integer-equal to the
    // spark-side dot identity
    "ann_sq8_topk" ->
      s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv FROM n WHERE nrm > 0),
         mm AS (SELECT i, min(qv[i]) AS mn,
                  max(qv[i]) - min(qv[i]) AS sp
                FROM e2, range(1, $DIM + 1) t(i) GROUP BY i),
         cu AS (
           SELECT e2.vec_id, mm.i,
             (CASE WHEN mm.sp = 0 THEN 0
              ELSE ((e2.qv[mm.i] - mm.mn) * 510 + mm.sp)
                   // (2 * mm.sp) END) * mm.sp AS uc
           FROM e2, mm),
         qu AS (
           SELECT e2.vec_id AS qid, mm.i,
             255 * (e2.qv[mm.i] - mm.mn) AS uq
           FROM e2, mm WHERE e2.vec_id < 5),
         dist AS (
           SELECT qu.qid, cu.vec_id,
             cast(sum((qu.uq - cu.uc) * (qu.uq - cu.uc)) as bigint)
               AS sq_dist
           FROM cu JOIN qu ON cu.i = qu.i AND cu.vec_id != qu.qid
           GROUP BY qu.qid, cu.vec_id)
         SELECT qid, vec_id, rn, sq_dist FROM (
           SELECT qid, vec_id, sq_dist,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY sq_dist ASC, vec_id ASC) as int) AS rn
           FROM dist) WHERE rn <= 10""",
    "dedup_semantic" ->
      s"""WITH $oracleQuantCte,
         e2 AS (SELECT vec_id, qv, nrm FROM n WHERE nrm > 0),
         cents AS (SELECT vec_id AS cid, qv AS cqv, nrm AS cnrm
                   FROM e2 WHERE vec_id < $NLIST),
         assigned AS (
           SELECT e2.vec_id, cents.cid, e2.qv, e2.nrm,
             e2.nrm - 2 * cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> e2.qv[i] * cents.cqv[i]), 'sum')
               as bigint) + cents.cnrm AS dist
           FROM e2, cents),
         cells AS (
           SELECT vec_id, cid AS cell, qv, nrm FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS arn
             FROM assigned) WHERE arn = 1),
         nn AS (
           SELECT a.vec_id,
             max(cast(cast(list_aggregate(list_transform(
               range(1, $DIM + 1), i -> a.qv[i] * b.qv[i]), 'sum')
               as bigint) as double) /
               (sqrt(cast(a.nrm as double)) * sqrt(cast(b.nrm as double))))
               AS nn_lower_sim
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND b.vec_id < a.vec_id
           GROUP BY a.vec_id),
         sizes AS (SELECT cell, count(*) AS n_cell FROM cells
                   GROUP BY cell)
         SELECT c.vec_id, c.cell, s.n_cell, nn.nn_lower_sim,
           coalesce(nn.nn_lower_sim >= 0.4, false) AS is_dup,
           NOT coalesce(nn.nn_lower_sim >= 0.4, false) AS keep
         FROM cells c JOIN sizes s USING (cell)
         LEFT JOIN nn ON c.vec_id = nn.vec_id""",
    "embedding_neardup" ->
      s"""WITH $oracleQuantCte,
         planes(p, w) AS (VALUES
           ${planes.zipWithIndex.map { case (w, p) =>
               s"($p, [${w.mkString(", ")}])" }.mkString(",\n           ")}),
         dots AS (
           SELECT n.vec_id, planes.p,
             cast(list_aggregate(list_transform(range(1, $DIM + 1),
               i -> n.qv[i] * cast(planes.w[i] as bigint)), 'sum')
               as bigint) AS dot
           FROM n, planes),
         bk AS (
           SELECT vec_id,
             cast(sum(CASE WHEN dot >= 0
                      THEN power(2, p) ELSE 0 END) as int) AS bucket
           FROM dots GROUP BY vec_id),
         eb AS (SELECT n.vec_id, n.qv, n.nrm, bk.bucket
                FROM n JOIN bk ON n.vec_id = bk.vec_id WHERE n.nrm > 0),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             a.qv AS qv_a, a.nrm AS nrm_a, b.qv AS qv_b, b.nrm AS nrm_b
           FROM eb a JOIN eb b ON a.bucket = b.bucket
           WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b, sim FROM (
           SELECT id_a, id_b,
             cast(cast(list_aggregate(list_transform(range(1, $DIM + 1),
               i -> qv_a[i] * qv_b[i]), 'sum') as bigint) as double) /
               (sqrt(cast(nrm_a as double)) * sqrt(cast(nrm_b as double)))
               AS sim
           FROM cand) WHERE sim > 0.8"""
  )
}
