package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators over `documents`.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on a 32-byte digest, never on full text —
  *    at 100 TB the shuffle payload is keys+digests, not documents.
  *  - MinHash + LSH: per-doc signature (narrow), explode to (band, hash)
  *    keys (narrow), ONE shuffle to bucket-join candidates, then verify
  *    only candidates with true Jaccard. O(n) + tiny candidate join vs the
  *    O(n²) all-pairs compare.
  *  - SimHash: per-doc 16-bit fingerprint; equal-fingerprint grouping is
  *    one shuffle on a 2-byte key.
  *
  * MinHash here is md5-based (k salted permutations approximated by salted
  * hashes) so the DuckDB oracle can reproduce signatures bit-for-bit — the
  * SQL-expressible analog of Spark ML's MinHashLSH.
  */
object DedupOps {
  import Tables.documents

  /** LSH knobs — defaults for the gate queries; [[withSigs]] and
    * [[minhashPairs]] take them as parameters so a deployment can trade
    * recall vs candidate volume (more bands of fewer rows ⇒ higher
    * recall, more candidates; the s-curve threshold is
    * (1/bands)^(1/rowsPerBand)). */
  val K = 8 // minhash signature length
  val BANDS = 4 // K/BANDS = 2 rows per band

  /** doc_id, toks, plus `shingles` — the shared tokenize/shingle prep.
    * The transform/slice/concat_ws composition would be interpreted
    * lambda evaluation; NgramShingles is the same values
    * (NgramShinglesSpec proves it elementwise) inside codegen. */
  private[graft] def withShingles(df: DataFrame, gram: Int): DataFrame =
    df.withColumn("toks", split(lower(trim(col("text"))), " "))
      .withColumn("shingles",
        if (gram == 1) col("toks")
        else graft.functions.NgramShingles.ngram_shingles(col("toks"), gram))

  /** doc_id, toks(array), plus sig_0..sig_{k-1} salted-minhash columns
    * over `gram`-gram shingles. All k signatures come from ONE pass over
    * the shingle array via the native MinHashMd5 Catalyst expression
    * (semantically = array_min(transform(shingles, x -> md5('<j>|'||x))),
    * which is exactly what the DuckDB oracle computes). */
  private[graft] def withSigs(df: DataFrame, gram: Int,
      k: Int = K): DataFrame = {
    val base = withShingles(df, gram)
      .withColumn("mh",
        graft.functions.MinHashMd5.minhash_md5(col("shingles"), k))
    (0 until k).foldLeft(base) { (acc, j) =>
      acc.withColumn(s"sig_$j", col("mh").getItem(j))
    }
  }

  private def sigsOracleCte(gram: Int): String = {
    val shingleExpr =
      if (gram == 1) "toks"
      else s"list_transform(range(1, greatest(len(toks) - ${gram - 1}, 1) + 1), " +
           s"i -> array_to_string(list_slice(toks, i, i + ${gram - 1}), ' '))"
    val sigCols = (0 until K).map { j =>
      s"list_aggregate(list_transform(shingles, x -> md5('$j|' || x)), " +
      s"'min') AS sig_$j"
    }.mkString(",\n             ")
    s"""t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
              FROM documents),
        sh AS (SELECT doc_id, $shingleExpr AS shingles FROM t),
        sigs AS (SELECT doc_id,
             $sigCols
           FROM sh)"""
  }

  /** CTE chain `sigs → bands → pairs → scored` — the oracle analog of
    * [[minhashPairs]] with gate-default k/bands, ending in
    * `scored(doc_a, doc_b, jaccard)`. Shared by the pairs and clusters
    * oracles. */
  private def lshScoredCte(gram: Int): String = {
    val bandRows = (0 until K / 2).map(b =>
      s"SELECT doc_id, $b AS band_id, " +
      s"md5(sig_${2 * b} || sig_${2 * b + 1}) AS band_hash FROM sigs"
    ).mkString("\n           UNION ALL ")
    s"""${sigsOracleCte(gram)},
       bands AS ($bandRows),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         WHERE a.doc_id < b.doc_id),
       tk AS (SELECT doc_id, list_distinct(shingles) AS dt FROM sh),
       scored AS (
         SELECT doc_a, doc_b,
           cast(len(list_filter(ta.dt, x -> list_contains(tb.dt, x)))
                as double) /
           (len(ta.dt) + len(tb.dt) -
            len(list_filter(ta.dt, x -> list_contains(tb.dt, x))))
             AS jaccard
         FROM pairs
         JOIN tk ta ON ta.doc_id = doc_a
         JOIN tk tb ON tb.doc_id = doc_b)"""
  }

  /** Full MinHash-LSH near-dup pipeline: `k` signatures split into
    * `bands` bands of k/bands rows; docs agreeing on any whole band are
    * candidates; candidates verified with true Jaccard on shingle sets.
    * The band join carries only (band, doc_id); shingle sets are joined
    * back by key afterwards so the shuffle payload stays narrow. */
  // The persisted band index is memoized per (session, dir, gram, k,
  // bands) via SessionMemo: it is THE derived artifact of the LSH
  // pipeline, and both consumers (the pairs gate and the clusters
  // gate) read the same one — exactly the persist-the-index-once
  // pattern SCALE.md prescribes at 100 TB. SessionMemo drops a
  // session's entries when the session stops (no dead-session pinning).

  def minhashPairs(s: SparkSession, d: String, gram: Int = 2,
      k: Int = K, bands: Int = BANDS): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val base = withShingles(Tables.documentsSpread(s, d), gram)
    // persist the band index before self-joining: it is the tiny
    // derived table of the pipeline (`bands` narrow rows per doc), and
    // without it BOTH join sides recompute the full MinHash pass —
    // at 100 TB persisting/checkpointing the band index is exactly
    // what you'd do (it is ~0.1% of corpus bytes).
    // shingles → (band_id, band_hash) is ONE codegen'd expression
    // (MinHashBands): no per-signature getItem projections, no
    // md5(concat(...)) trees — the signatures never materialize.
    val bandIdx = graft.core.SessionMemo.getOrElseUpdate(
      s, ("dedup_band", d, gram, k, bands))(
      base.select(
        col("doc_id"),
        explode(graft.functions.MinHashBands
          .minhash_bands(col("shingles"), k, bands)).as("band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = bandIdx.as("a")
      .join(bandIdx.as("b"), Seq("band_id", "band_hash"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    val sets = base.select(col("doc_id"),
      array_distinct(col("shingles")).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
            Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
            Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Incremental (batch-vs-corpus) near-dup check — how dedup actually
    * runs in a daily-ingest pipeline: the established corpus owns a
    * PERSISTED band index (in production a stored table, appended per
    * ingest); a new batch derives its bands narrowly and probes the
    * index with one equi-join. Per-ingest cost is O(batch + matched
    * candidates), never O(corpus): the corpus is only touched through
    * its 4-rows/doc index and the by-id shingle lookup for verified
    * candidates. The batch here is the doc_id % 10 == 0 slice so the
    * split stays scale-proportional across fixtures. */
  /** Memo key of [[incrementalDups]]'s corpus-side band index (for the
    * spec's reuse assertions): the persisted artifact every ingest
    * probes, memoized per (session, dir, gram, k, bands) via
    * SessionMemo, so re-running the gate reuses it — NOT a fresh
    * persisted copy per invocation (the r6 ADVICE leak: repeated runs
    * accumulated cached indexes in the session). */
  private[graft] def corpusIdxKey(d: String, gram: Int, k: Int,
      bands: Int): Any = ("dedup_corpus_band", d, gram, k, bands)

  /** Arrival slice convention shared by the incremental gates: the
    * doc_id % 10 == 0 docs play the NEW batch, the rest the established
    * corpus — scale-proportional across fixtures. */
  private[graft] val NEW_DOC = col("doc_id") % 10 === 0

  private def bandsFrame(df: DataFrame, k: Int, bands: Int): DataFrame =
    df.select(
      col("doc_id"),
      explode(graft.functions.MinHashBands
        .minhash_bands(col("shingles"), k, bands)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))

  /** The established corpus's persisted band index — the artifact every
    * ingest (batch gate and streaming twin alike) probes. Memoized per
    * (session, dir, gram, k, bands) via SessionMemo. */
  private[graft] def corpusBandIndex(s: SparkSession, d: String,
      gram: Int, k: Int, bands: Int): DataFrame =
    graft.core.SessionMemo.getOrElseUpdate(
      s, corpusIdxKey(d, gram, k, bands))(
      bandsFrame(withShingles(Tables.documentsSpread(s, d).filter(!NEW_DOC), gram),
        k, bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Probe one batch of arriving docs against the persisted corpus
    * index: bands derive narrowly from the batch, ONE equi-join yields
    * candidates, verification joins shingle sets by id — each side
    * filtered to the rows that can match BEFORE its shuffle, so the
    * verify join moves O(batch + candidates) rows, never the corpus. */
  private[graft] def probeAgainstCorpus(s: SparkSession, d: String,
      newDocs: DataFrame, gram: Int, k: Int, bands: Int,
      minJaccard: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val newSh = withShingles(newDocs, gram)
    val cands = bandsFrame(newSh, k, bands).as("n")
      .join(corpusBandIndex(s, d, gram, k, bands).as("o"),
            Seq("band_id", "band_hash"))
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("dup_of"))
      .distinct()
    val newSets = newSh.select(col("doc_id"),
      array_distinct(col("shingles")).as("sh_n"))
    val oldSets = withShingles(Tables.documentsSpread(s, d).filter(!NEW_DOC), gram)
      .select(col("doc_id").as("dup_of"),
        array_distinct(col("shingles")).as("sh_o"))
    cands
      .join(newSets, Seq("doc_id"))
      .join(oldSets, Seq("dup_of"))
      .withColumn("inter",
        size(array_intersect(col("sh_n"), col("sh_o"))))
      .withColumn("uni",
        size(col("sh_n")) + size(col("sh_o")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_id", "dup_of", "jaccard")
  }

  def incrementalDups(s: SparkSession, d: String, gram: Int = 2,
      k: Int = K, bands: Int = BANDS,
      minJaccard: Double = 0.5): DataFrame =
    probeAgainstCorpus(s, d, documents(s, d).filter(NEW_DOC),
      gram, k, bands, minJaccard)

  /** Streaming twin of [[incrementalDups]] — near-dup flagging at
    * ingest time, gate `streaming_ingest_neardup`: arriving document
    * micro-batches probe the SAME persisted corpus band index through
    * the real Structured Streaming runtime. The probe runs per batch in
    * foreachBatch (the incremental-batch serving pattern); each batch's
    * verified matches land as an overwrite of its own `b<batchId>` sink
    * dir, which is what makes the at-least-once foreachBatch contract
    * exactly-once here — a replayed batch rebuilds the identical dir
    * (same discipline as the versioned CDC sink). Batch-invariance of
    * the probe (each doc vs the static index) means the drained sink
    * equals the batch gate's result, so the SAME DuckDB oracle verifies
    * both. `variant` suffixes the sink/checkpoint for spec restarts.
    *
    * At 100 TB: per-batch cost is O(batch + its candidates); the
    * corpus-scale index is built once before the stream starts and
    * persists across batches — exactly the dedup_incremental scale
    * story, now restart-safe under a durable checkpoint. */
  private[graft] def streamingIngestDups(s: SparkSession, d: String,
      variant: String = ""): DataFrame = {
    import graft.streaming.DocIngest
    corpusBandIndex(s, d, 2, K, BANDS) // serving artifact: built pre-stream
    val (sink, ckpt) = DocIngest.sinkCkpt(d, "ingest_neardup" + variant)
    val apply: (DataFrame, Long) => Unit = (batch, id) =>
      // coalesce(1): tiny per-batch result, and a zero-row batch still
      // commits one schema-bearing file so the sink read-back never
      // sees a fileless dir
      probeAgainstCorpus(s, d, batch.filter(NEW_DOC), 2, K, BANDS, 0.5)
        .coalesce(1)
        .write.mode("overwrite").parquet(sink.resolve(s"b$id").toString)
    val q = DocIngest.source(s, d).writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(apply)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .queryName("g_ingest_neardup" + variant).start()
    DocIngest.await(q)
    s.read.option("recursiveFileLookup", "true").parquet(sink.toString)
  }

  /** Connected components over the verified LSH near-dup pairs — the
    * dedup endgame: one canonical doc per near-dup CLUSTER (pairs chain:
    * A~B, B~C ⇒ {A,B,C} dedupe together even when A~C missed the bands).
    *
    * Distributed iterative min-label propagation: every doc starts
    * labeled with its own id; each sweep takes the min label over
    * neighbors; converges in O(max cluster diameter) sweeps — near-dup
    * clusters are shallow (pairs share most shingles), so 3–5 sweeps in
    * practice, bounded by `maxIters`. Each sweep is one shuffle join +
    * partial-agg min — no per-node driver state; the only driver action
    * is a bounded convergence count per sweep (same pattern as the
    * k-means loop). The label frame is localCheckpoint'ed every
    * [[CHECKPOINT_EVERY]] sweeps (see [[propagateLabels]]) so lineage
    * depth stays bounded regardless of `maxIters`.
    */
  /** Sweeps between lineage truncations in [[propagateLabels]]. */
  private[graft] val CHECKPOINT_EVERY = 3

  /** The min-label propagation inner loop over an undirected edge list
    * `(doc_a, doc_b)` (both directions present): every node in `nodes`
    * starts labeled with its own id; each sweep takes the min label over
    * neighbors; stops on convergence or `maxIters`.
    *
    * Every [[CHECKPOINT_EVERY]]-th sweep the label frame is
    * `localCheckpoint`ed (eager) instead of persisted: the checkpoint
    * materializes the same partitions the persist would, AND truncates
    * lineage, so a maxIters=20 run carries a ≤3-sweep-deep plan instead
    * of a 20-join tower (whose analysis/serialization cost grows per
    * sweep and eventually dominates). localCheckpoint is executor-local
    * — the right tradeoff for this loop, where a lost executor just
    * means rerunning the job; a multi-hour pipeline would use reliable
    * `checkpoint()` on cluster storage, same call site. */
  /** Release a dead sweep frame's storage. `Dataset.unpersist` frees
    * cache-manager entries but is a NO-OP for `localCheckpoint` blocks
    * (they live as RDD-level persistence outside the cache manager), so
    * checkpointed sweeps would pile up full label-frame copies until
    * GC; unpersisting the physical scan RDD frees them immediately.
    *
    * The RDD-level free runs ONLY when the live successor is itself a
    * fresh localCheckpoint (`successorCheckpointed`): a plain-persisted
    * successor's recompute lineage still runs through the predecessor
    * chain's checkpoint RDD, and freeing that RDD would turn an
    * executor loss (evicted successor blocks) into an unrecoverable job
    * abort instead of a stage recompute. At a checkpoint boundary the
    * successor is self-contained (eagerly materialized, lineage
    * truncated at its own RDD), so every upstream checkpoint block is
    * provably dead. Cost of the guard: stale checkpoint blocks live at
    * most CHECKPOINT_EVERY extra sweeps. */
  private def freeFrame(df: DataFrame,
      successorCheckpointed: Boolean): Unit = {
    df.unpersist()
    if (successorCheckpointed)
      df.queryExecution.executedPlan.collectLeaves().foreach {
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          r.rdd.unpersist(false)
        case _ => ()
      }
  }

  private[graft] def propagateLabels(edges: DataFrame, nodes: DataFrame,
      maxIters: Int): DataFrame = {
    var persisted = nodes
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = persisted
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("doc_b"),
          col("cluster_id").as("nbr_label")), Seq("doc_b"))
        .groupBy("doc_a").agg(min("nbr_label").as("nbr_min"))
        .withColumnRenamed("doc_a", "doc_id")
      // carry the pre-sweep label alongside the new one so convergence
      // is a filter over THIS frame — no extra join back to the old
      // labels (one shuffle per sweep saved)
      val swept = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
      val checkpointSweep = (it + 1) % CHECKPOINT_EVERY == 0
      val next =
        if (checkpointSweep) swept.localCheckpoint(true)
        else swept.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the filter+count scans (and therefore caches) EVERY partition of
      // `next` before the parent is unpersisted (a limit-probe would
      // cache only the partitions it touched and the rest would
      // recompute through unpersisted lineage); the count itself is a
      // partial-agg over the small label frame. (An eager localCheckpoint
      // already materialized everything — the count is then a cached
      // scan.)
      val changed = next.filter(col("cluster_id") =!= col("old_id")).count()
      freeFrame(persisted, successorCheckpointed = checkpointSweep)
      persisted = next
      labels = next.select("doc_id", "cluster_id")
      converged = changed == 0
      it += 1
    }
    labels
  }

  /** Memo key of the cluster-assignment artifact (for spec reuse
    * assertions). */
  private[graft] def clustersKey(d: String, gram: Int, k: Int,
      bands: Int, minJaccard: Double, maxIters: Int): Any =
    ("dedup_clusters", d, gram, k, bands, minJaccard, maxIters)

  /** The (doc_id, cluster_id) assignment is memoized per (session,
    * dir, params) via SessionMemo — in production it is a STORED
    * corpus artifact (the thing the leakage-safe split consumes and a
    * dedup run keeps for incremental reassignment), not a per-query
    * recomputation; both consumers (the clusters gate and
    * sample_leakage_safe_split) read the same persisted frame, the
    * same discipline as the band/bloom/window indexes. 16 B/doc. */
  def minhashClusters(s: SparkSession, d: String, gram: Int = 2,
      k: Int = K, bands: Int = BANDS, minJaccard: Double = 0.5,
      maxIters: Int = 20): DataFrame =
    graft.core.SessionMemo.getOrElseUpdate(
      s, clustersKey(d, gram, k, bands, minJaccard, maxIters)) {
      // eager RELIABLE checkpoint, NOT persist (r17 collapsed the
      // ~20k-line iterative-sweep plan tower this way) and NOT
      // localCheckpoint (r18): the artifact is long-lived — consumed
      // by two gates across the whole session — and localCheckpoint
      // pins it to UNREPLICATED executor blocks, so on a real cluster
      // one lost executor (or dynamic-allocation downscale) makes it
      // unrecoverable instead of recomputable. checkpoint() writes
      // the 16 B/doc assignment to the checkpoint dir (cluster
      // storage in production, tmp locally — set lazily if the
      // session never configured one): same rows, same constant-size
      // LogicalRDD-leaf plan downstream (guide §3.3).
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(
          new org.apache.hadoop.fs.Path(
            sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
              new java.io.File(sys.props("java.io.tmpdir"),
                "graft_scratch").toString),
            s"ckpt_${s.sparkContext.applicationId}").toString)
      computeClusters(s, d, gram, k, bands, minJaccard, maxIters)
        .checkpoint(true)
    }

  private def computeClusters(s: SparkSession, d: String, gram: Int,
      k: Int, bands: Int, minJaccard: Double,
      maxIters: Int): DataFrame = {
    val pairs = minhashPairs(s, d, gram, k, bands)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"))
    // undirected: labels must flow both ways
    val edges = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // propagate only over docs that HAVE an edge: in a web-scale corpus
    // near-dup components cover a small fraction of docs, so the sweep
    // joins run on |edge endpoints|, not |corpus|; singletons rejoin
    // with self-labels at the end (one anti-join, no iteration cost)
    // persisted: the final singleton anti-join runs AFTER edges is
    // unpersisted, and must not recompute the pairs pipeline
    val nodes = edges.select(col("doc_a").as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = propagateLabels(edges, nodes, maxIters)
    edges.unpersist()
    val singletons = documents(s, d).select(col("doc_id"))
      .join(nodes, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    labels.union(singletons)
  }

  /** Duplicated fixed-width substring report — the windowed-hash
    * approximation of exact-substring dedup (Lee et al. 2021,
    * arXiv:2107.06499, which removes verbatim text repeated across a
    * corpus; their suffix-array pass is single-machine, the W-char
    * window digest is the shape that distributes). Every distinct
    * W-char window of a doc is digested once (native CharNgrams, one
    * O(len) pass); a window appearing in ≥ 2 docs is verbatim-shared
    * text, and `shared_frac` is the per-doc fraction a curation run
    * thresholds on (≥ ~0.5 ⇒ mostly boilerplate/copy).
    *
    * Scale shape: windows travel as 8-byte xxhash64 keys, never text, and
    * the digest stream is shuffled ONCE — the per-window document
    * frequency is `count(*) over (partition by wh)` on the already
    * per-doc-distinct stream, not a groupBy + join-back (which would
    * re-shuffle and re-sort the same stream a second time; measured
    * 7× slower at sf0.1 — 5.0 s vs 0.7 s).
    * The per-doc rollup then carries only
    * counts. Total shuffle bytes ~ 8·len/doc — linear in corpus size,
    * no pairwise term at all (this is the dedup signal with NO
    * candidate join: the window-df table itself is the index, and at
    * 100 TB it is the persisted artifact an incremental ingest
    * probes). */
  def substringReport(s: SparkSession, d: String, w: Int = 30)
      : DataFrame = {
    // the window key is INTERNAL (never reaches the output, the oracle
    // keys on window equality however it likes), so the cheapest
    // codegen'd 8-byte hash wins over a cryptographic digest: xxhash64
    // shuffles/sorts long keys instead of 32-char md5 hex strings — 4×
    // fewer shuffle bytes and integer compares in the window sort
    // Plan lesson from the sf1 audit: the cost here was never the
    // window sort or the shuffle — it was MATERIALIZING the window
    // strings (each L-char doc spawned ~L 30-char UTF8Strings, a ~30×
    // allocation amplification of the corpus, thrown away right after
    // hashing). CharNgramHashes hashes byte ranges in place and
    // dedups per-doc in the same pass, so the stream is born as bare
    // longs: explode → one (wh-keyed) shuffle of 16-byte rows →
    // window count → map-side-combined doc rollup. (Both no-sort
    // reformulations — df-table join-back and the unique-owner
    // aggregation — measured WORSE at sf1: the derived corpus's
    // shared set isn't sparse, and 25M-key hash aggregation spills
    // to sort anyway. The window form is the right plan; the strings
    // were the bug.)
    val win = Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(
        graft.functions.CharNgramHashes.char_ngram_hashes(
          lower(trim(col("text"))), w)).as("wh"))
    win
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy("wh")))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_windows"))
  }

  /** Memo key of the corpus window index (for the spec's reuse
    * assertions). */
  private[graft] def windexKey(d: String, w: Int): Any =
    ("dedup_substring_windex", d, w)

  /** The established corpus's persisted WINDOW index — the distinct
    * W-char window digests of every corpus doc, the artifact
    * [[substringReport]]'s scaladoc promises an incremental ingest
    * probes. Repartitioned ON the window key before persisting, so the
    * cached relation is hash-distributed by `wh` and every probe join
    * reuses that layout — only the batch side shuffles (at 100 TB this
    * is the wh-bucketed stored table; per-ingest cost stays O(batch),
    * the index is never re-scanned through a shuffle). Memoized per
    * (session, dir, w) via SessionMemo like the band and bloom
    * artifacts. */
  private[graft] def corpusWindowIndex(s: SparkSession, d: String,
      w: Int): DataFrame =
    graft.core.SessionMemo.getOrElseUpdate(s, windexKey(d, w))(
      Tables.documentsSpread(s, d).filter(!NEW_DOC)
        .select(explode(
          graft.functions.CharNgramHashes.char_ngram_hashes(
            lower(trim(col("text"))), w)).as("wh"))
        .distinct()
        .repartition(col("wh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Incremental substring-dedup probe — gate
    * `dedup_substring_incremental`: arriving docs (the doc_id % 10 == 0
    * slice, the shared arrival convention) report what fraction of
    * their W-char windows is ALREADY verbatim-present in the
    * established corpus. The batch derives its window digests narrowly
    * (one O(len) CharNgramHashes pass, windows travel as 8-byte
    * hashes), probes the persisted [[corpusWindowIndex]] with one
    * semi-join, and rolls up counts per doc — O(batch + matches) per
    * ingest, never O(corpus). Batch-internal sharing is deliberately
    * NOT counted (that is [[substringReport]]'s job over the corpus
    * after ingest): the incremental question is "how much of this NEW
    * doc is old text". */
  def substringIncremental(s: SparkSession, d: String, w: Int = 30)
      : DataFrame = {
    val probe = Tables.documentsSpread(s, d).filter(NEW_DOC)
      .select(col("doc_id"), explode(
        graft.functions.CharNgramHashes.char_ngram_hashes(
          lower(trim(col("text"))), w)).as("wh"))
    val shared = probe
      .join(corpusWindowIndex(s, d, w), Seq("wh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    probe.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_windows"))
  }

  /** Cross-doc span dedup WITH corpus rewrite — the C4/RefinedWeb-style
    * "remove duplicated spans, keep the first occurrence" pass (C4 drops
    * repeated three-sentence spans; this corpus has no sentence
    * delimiters, so the unit is a disjoint `w`-token block). Every span
    * whose text already occurred at a smaller (doc_id, pos) is deleted
    * and the document is reassembled from its surviving spans in order.
    *
    * Scale shape — document text never enters a shuffle:
    *  1. spans live as an array on the doc row (row-local segmentation);
    *  2. the keep-first decision flows as a (doc_id, pos, 8-byte key)
    *     stream through ONE digest-keyed window;
    *  3. only the DROP-list — (doc_id, array<int> positions), a few bytes
    *     per affected doc — travels back, and the rewrite is a row-local
    *     lambda over the span array already sitting on the doc row.
    * The drop side is usually tiny (duplication is sparse) so AQE
    * broadcasts it; with a doc_id-bucketed corpus even the doc side of
    * that join is shuffle-free. Output is a narrow audit row per doc
    * (digest of the rewritten text, not the text itself). */
  def spanRewrite(s: SparkSession, d: String, w: Int = 8): DataFrame = {
    val docs = documents(s, d)
      .withColumn("toks", split(lower(trim(col("text"))), " "))
      .withColumn("spans", expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / ${w}.0) as int) - 1),
              i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))"""))
      .select(col("doc_id"), col("spans"))
    // internal keep-first key only (the output's new_digest stays md5 —
    // that one the oracle hashes): 8-byte xxhash64 over the span beats
    // shuffling 32-char digest strings through the keep-first window
    val hashes = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), xxhash64(col("span")).as("sh"))
    val firstWin = Window.partitionBy("sh").orderBy(col("doc_id"), col("pos"))
    val drops = hashes
      .withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") > 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("drop_pos"))
    docs.join(drops, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "filter(spans, (sp, i) -> drop_pos IS NULL" +
          " OR NOT array_contains(drop_pos, i))"))
      .withColumn("new_text", concat_ws(" ", col("kept")))
      .select(col("doc_id"),
        size(col("spans")).cast("long").as("n_spans"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        md5(col("new_text")).as("new_digest"),
        length(col("new_text")).cast("long").as("new_nchars"))
  }

  /** Containment-pair candidates: doc pairs sharing ≥ 1 kept shingle,
    * scored both directions, kept when the LARGER containment clears
    * `tau` (i.e. at least one side is mostly inside the other). See the
    * gate comment for the df-cap rationale; `tau` is monotone — a
    * tighter threshold is always a subset (spec). */
  def containmentPairs(s: SparkSession, d: String, gram: Int = 2,
      tau: Double = 0.6, maxDf: Long = 250L): DataFrame = {
    val sh = withShingles(Tables.documentsSpread(s, d), gram)
      .select(col("doc_id"),
        explode(array_distinct(col("shingles"))).as("sh"))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // kept shingle space: df-capped; sizes MUST come from the same
    // space or the ratio silently degrades into a lower bound.
    // SHUFFLE_HASH on the df/sizes sides (r18, guide §3.1): both are
    // aggregation outputs keyed UNIQUELY (one row per shingle / per
    // doc) with one narrow count column — unique keys cannot produce
    // a hot build partition, and the per-partition hash build is
    // |keys|·~24B/P, so the shuffled-hash build side is safe at any
    // corpus scale while dropping the SortMergeJoin's sort on BOTH
    // sides of each join (the probe sides here are the wide exploded
    // shingle frame and the candidate-pair frame — exactly the sides
    // whose sort dominates).
    val kept = sh.join(df.select("sh").hint("shuffle_hash"), Seq("sh"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = kept.select(col("sh"), col("doc_id").as("doc_a"))
    val b = kept.select(col("sh"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"))
              .hint("shuffle_hash"),
            Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"))
              .hint("shuffle_hash"),
            Seq("doc_b"))
      .withColumn("cont_ab",
        col("inter").cast("double") / col("sz_a"))
      .withColumn("cont_ba",
        col("inter").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= tau)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b",
              "cont_ab", "cont_ba")
  }

  /** Bloom-prefiltered incremental exact dedup — the probe-side cost
    * lever the band/codes indexes don't cover: when the corpus-side key
    * set is huge and the question is pure MEMBERSHIP ("has this exact
    * content been seen?"), a Bloom filter over the corpus digests turns
    * the daily probe into a broadcast bitmask test. The batch filters
    * through `mightContain` first — no false negatives, so no dup is
    * ever missed — and only the survivors (true dups + the fpp·batch
    * false positives) reach the exact digest semi-join that removes the
    * false positives. The answer is BY CONSTRUCTION identical to the
    * plain semi-join (the oracle verifies that, not the bloom), which
    * is the whole point: the bloom is a pruning artifact, not a
    * semantics change.
    *
    * The dedup key is md5 of the first 80 normalized chars — truncation
    * duplicates, the variant exact-hash dedup misses. The filter is the
    * [[ShardedBloom]] artifact: K digest-range shards built
    * EXECUTOR-side (per-split partials, one reduceByKey OR-merge — the
    * driver only ever sees the K-row blob table), persisted and
    * memoized per (session, dir) via SessionMemo like the band and
    * IVF-PQ indexes, probed by shard ROUTING (the batch shuffles once
    * on its shard id and each task deserializes only its own shards'
    * filters), and appendable: a later ingest OR-merges its own shards
    * into the stored ones ([[ShardedBloom.orMerge]]) instead of
    * rebuilding from the corpus. At 10⁹–10¹⁰ corpus keys (~1.2–12 GB
    * of bitmap at 1% fpp) no single JVM holds the whole filter —
    * per-shard bitmaps are bitmap/K. BloomPrefilterSpec proves
    * no-false-negatives, real pruning, bloom-vs-exact answer equality,
    * artifact reuse across invocations, and build(A∪B) ≡
    * orMerge(build(A), build(B)) at blob-byte level. */
  private[graft] def prefixKey: org.apache.spark.sql.Column =
    md5(substring(lower(trim(col("text"))), 1, 80))

  private[graft] val BloomFpp = 0.03

  /** Artifact geometry derived from the corpus key count (parquet
    * footer metadata, no scan): shard count scales via
    * [[ShardedBloom.shardsFor]] — 16 at test SF, hundreds at 10¹⁰
    * keys — so per-shard bitmap size AND probe parallelism both grow
    * with the corpus instead of being pinned at a constant. */
  private[graft] def bloomGeometry(s: SparkSession,
      d: String): (Int, Long) = {
    val expected = Tables.footerRowCount(s, s"$d/documents.parquet")
      .getOrElse(1000000L)
    val shards = ShardedBloom.shardsFor(expected)
    (shards, math.max(expected / shards, 64L))
  }

  private[graft] def bloomShardsKey(s: SparkSession, d: String): Any =
    ("dedup_bloom_shards", d, bloomGeometry(s, d)._1, BloomFpp)

  /** The corpus's persisted shard artifact (see [[ShardedBloom]]). */
  private[graft] def corpusBloomShards(s: SparkSession, d: String,
      corpus: DataFrame): DataFrame =
    graft.core.SessionMemo.getOrElseUpdate(s, bloomShardsKey(s, d)) {
      val (shards, perShard) = bloomGeometry(s, d)
      ShardedBloom.buildShards(s, corpus, "prefix_md5",
        shards, perShard, BloomFpp)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def bloomPrefilterDups(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documentsSpread(s, d)
      .select(col("doc_id"), prefixKey.as("prefix_md5"))
    val corpus = keyed.filter(col("doc_id") % 10 =!= 7)
    val batch = keyed.filter(col("doc_id") % 10 === 7)
    val shards = corpusBloomShards(s, d, corpus)
    ShardedBloom.probe(s, batch, "prefix_md5", shards,
      bloomGeometry(s, d)._1)
      .join(corpus.select("prefix_md5").distinct(),
        Seq("prefix_md5"), "left_semi")
      .select("doc_id", "prefix_md5")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom-prefiltered incremental membership dedup (see
    // bloomPrefilterDups).
    "dedup_bloom_prefilter" -> ((s, d) => bloomPrefilterDups(s, d)),

    // Exact dedup: group by content hash, keep min doc_id.
    "dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))),

    // Per-doc MinHash signatures (5-gram shingles) — the signature stage
    // of the LSH pipeline, verified bit-for-bit by the oracle.
    "dedup_minhash_sigs" -> ((s, d) =>
      withSigs(Tables.documentsSpread(s, d), gram = 5)
        .select(col("doc_id") +: (0 until K).map(j => col(s"sig_$j")): _*)),

    // Full LSH pipeline on 2-gram shingles: band -> bucket-join ->
    // candidate pairs -> true-Jaccard verification on shingle sets.
    "dedup_minhash_pairs" -> ((s, d) => minhashPairs(s, d)),

    // Near-dup CLUSTERS: connected components (min-label propagation)
    // over the jaccard-verified pairs; every doc labeled with the min
    // doc_id of its cluster (own id when it has no near-dups).
    "dedup_minhash_clusters" -> ((s, d) => minhashClusters(s, d)),

    // Incremental ingest dedup: new batch (doc_id % 10 == 0) probed
    // against the persisted corpus band index; verified Jaccard >= 0.5
    // matches are the batch rows a daily pipeline would reject.
    "dedup_incremental" -> ((s, d) => incrementalDups(s, d)),

    // The streaming twin: the same probe, run per arriving micro-batch
    // under the real streaming runtime with a durable checkpoint. Same
    // oracle — batch-invariance of the probe is the verified property.
    "streaming_ingest_neardup" -> ((s, d) => streamingIngestDups(s, d)),

    // Exact n-gram Jaccard (the non-approximate baseline to MinHash):
    // top-5 most-similar docs for each query doc (doc_id < 20) by 2-gram
    // Jaccard. Formulated as explode → equi-join on shingle → group-count
    // (shuffle on shingle keys), NOT pairwise set intersection — the shape
    // that survives corpus-scale inputs.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val sh = Tables.documentsSpread(s, d)
        .withColumn("toks", split(lower(trim(col("text"))), " "))
        .withColumn("shingles",
          graft.functions.NgramShingles.ngram_shingles(col("toks"), 2))
        .select(col("doc_id"),
          explode(array_distinct(col("shingles"))).as("sh"))
      val sizes = sh.groupBy("doc_id")
        .agg(count(lit(1)).as("sz"))
      val q = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("sh"))
      val inter = q.join(sh, Seq("sh"))
        .filter(col("qid") =!= col("doc_id"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("inter"))
      val scored = inter
        .join(sizes.select(col("doc_id").as("qid"), col("sz").as("sz_q")),
              Seq("qid"))
        .join(sizes.select(col("doc_id"), col("sz").as("sz_d")),
              Seq("doc_id"))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("sz_q") + col("sz_d") - col("inter")))
      val w = Window.partitionBy("qid")
        .orderBy(col("jaccard").desc, col("doc_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("qid", "doc_id", "rn", "jaccard")
    }),

    // Asymmetric n-gram CONTAINMENT (Broder's c(A,B) = |A∩B|/|A|): the
    // near-dup signal symmetric Jaccard misses — a short doc embedded in
    // a longer one (article + boilerplate wrapper, quote-heavy reposts)
    // scores high containment from the small side while its Jaccard
    // stays low. Same scale-safe shape as dedup_ngram_jaccard (explode →
    // shingle equi-join → group-count, never pairwise set ops) plus the
    // knob that shape NEEDS at corpus scale: shingles whose document
    // frequency exceeds `maxDf` are dropped from BOTH the intersection
    // and the per-doc sizes (containment stays a true ratio over the
    // kept shingle space). Hot stopword-shingles are what make the
    // equi-join fan out quadratically — df-capping bounds every
    // shingle's pair contribution at maxDf², turning worst-case join
    // size into a config choice instead of a corpus property.
    "dedup_containment" -> ((s, d) =>
      containmentPairs(s, d)),

    // Verbatim-substring duplication report: per-doc fraction of 30-char
    // windows shared with any other doc (windowed-hash form of
    // exact-substring dedup — see substringReport's scaladoc).
    "dedup_substring" -> ((s, d) => substringReport(s, d)),

    // Incremental ingest probe of the persisted corpus window index:
    // per arriving doc, the fraction of its windows already verbatim in
    // the corpus — O(batch) per ingest (see substringIncremental).
    "dedup_substring_incremental" -> ((s, d) => substringIncremental(s, d)),

    // Leakage-safe train/test split: assignment hashes the near-dup
    // CLUSTER id, not the doc id — doc-granular splits leak
    // near-duplicate text across the boundary (a test doc's twin in
    // train inflates eval scores), so the split unit must be the
    // connected component. Composition of the clusters pipeline with
    // the engine's content-stable md5-bucket convention; ~80/20 by
    // cluster. Spec proves no verified near-dup pair straddles the
    // split.
    "sample_leakage_safe_split" -> ((s, d) =>
      minhashClusters(s, d).withColumn("split",
        when(Tables.md5Bucket(col("cluster_id"), 10) < 8, "train")
          .otherwise("test"))),

    // Span dedup with corpus rewrite: drop 8-token blocks already seen
    // at a smaller (doc_id, pos), reassemble, report digest-only audit
    // rows (see spanRewrite's scaladoc for the no-text-shuffle shape).
    "dedup_span_rewrite" -> ((s, d) => spanRewrite(s, d)),

    // SimHash: 16-bit fingerprint from per-token md5 bit votes.
    "dedup_simhash" -> ((s, d) => {
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(lower(trim(col("text"))), " ")))
            .as("tok"))
        .withColumn("h", md5(col("tok")))
      val aggCols = (0 until 16).map { k =>
        sum(when(expr(s"instr('0123456789abcdef', substr(h, ${k + 1}, 1))")
                   >= 9, 1).otherwise(-1)).as(s"s_$k")
      }
      val sums = toks.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      val simhash = (0 until 16).map { k =>
        when(col(s"s_$k") >= 0, 1 << k).otherwise(0)
      }.reduce(_ + _)
      sums.select(col("doc_id"), simhash.cast("int").as("simhash16"))
    })
  )

    /** The split oracle IS the clusters oracle with the md5-bucket split
    * wrapped around its final select — see the map comment. */
  private def leakageSplitOracle: String = {
    val clusters = s"""WITH RECURSIVE ${lshScoredCte(2)},
         good AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM good
           UNION ALL SELECT doc_b AS a, doc_a AS b FROM good),
         reach(node, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
         SELECT node AS doc_id, min(label) AS cluster_id
         FROM reach GROUP BY node"""
    s"""SELECT doc_id, cluster_id,
           CASE WHEN cast(('0x' || substr(md5(cast(cluster_id AS varchar)),
                  1, 8)) AS bigint) % 10 < 8
                THEN 'train' ELSE 'test' END AS split
         FROM ($clusters) cl"""
  }

/** Oracle of [[incrementalDups]] AND its streaming twin (the gates
    * return identical frames — see [[streamingIngestDups]]). */
  private lazy val incrementalOracle: String = {
    val bandRows = (0 until K / 2).map(b =>
      s"SELECT doc_id, $b AS band_id, " +
      s"md5(sig_${2 * b} || sig_${2 * b + 1}) AS band_hash FROM sigs"
    ).mkString("\n           UNION ALL ")
    s"""WITH ${sigsOracleCte(2)},
         bands AS ($bandRows),
         cand AS (
           SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_of
           FROM bands n JOIN bands o
             ON n.band_id = o.band_id AND n.band_hash = o.band_hash
           WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 != 0),
         tk AS (SELECT doc_id, list_distinct(shingles) AS dt FROM sh),
         scored AS (
           SELECT c.doc_id, c.dup_of,
             cast(len(list_filter(a.dt, x -> list_contains(b.dt, x)))
                  as double) /
             (len(a.dt) + len(b.dt) -
              len(list_filter(a.dt, x -> list_contains(b.dt, x))))
               AS jaccard
           FROM cand c JOIN tk a ON a.doc_id = c.doc_id
           JOIN tk b ON b.doc_id = c.dup_of)
         SELECT doc_id, dup_of, jaccard FROM scored
         WHERE jaccard >= 0.5"""
  }

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",
    "dedup_minhash_sigs" -> {
      val cols = (0 until K).map(j => s"sig_$j").mkString(", ")
      s"WITH ${sigsOracleCte(5)} SELECT doc_id, $cols FROM sigs"
    },
    "dedup_minhash_pairs" ->
      s"""WITH ${lshScoredCte(2)}
         SELECT doc_a, doc_b, jaccard FROM scored""",

    "dedup_incremental" -> incrementalOracle,
    // the oracle is the PLAIN exact semi-join — bloom-vs-exact equality
    // is exactly what the gate must prove
    "dedup_bloom_prefilter" ->
      """WITH keyed AS (
           SELECT doc_id, md5(substr(lower(trim(text)), 1, 80))
             AS prefix_md5
           FROM documents),
         corpus AS (
           SELECT prefix_md5 FROM keyed WHERE doc_id % 10 <> 7),
         batch AS (
           SELECT doc_id, prefix_md5 FROM keyed WHERE doc_id % 10 = 7)
         SELECT doc_id, prefix_md5 FROM batch
         WHERE prefix_md5 IN (SELECT prefix_md5 FROM corpus)""",
    // batch-invariance makes the streaming twin's drained sink equal
    // the batch probe — verified against the SAME retraining-free SQL
    "streaming_ingest_neardup" -> incrementalOracle,

    // cluster assignment + the engine's md5-bucket hash on cluster_id:
    // the split oracle IS the clusters oracle with the hash wrapped
    // around its final select — string surgery keeps the two gates'
    // cluster semantics in lockstep (any clusters-oracle fix flows
    // through), like VectorOps.filteredIvfOracle
    "sample_leakage_safe_split" -> leakageSplitOracle,
    // connected components via transitive label reachability: a node's
    // cluster id is the min doc_id among all nodes that can reach it
    // through jaccard-verified edges (fixpoint of the recursive CTE)
    "dedup_minhash_clusters" ->
      s"""WITH RECURSIVE ${lshScoredCte(2)},
         good AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM good
           UNION ALL SELECT doc_b AS a, doc_a AS b FROM good),
         reach(node, label) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node)
         SELECT node AS doc_id, min(label) AS cluster_id
         FROM reach GROUP BY node""",
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
                    FROM documents),
         shl AS (SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 1, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS shs
           FROM t),
         sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         q AS (SELECT doc_id AS qid, sh FROM sh WHERE doc_id < 20),
         inter AS (
           SELECT q.qid, sh.doc_id, count(*) AS inter
           FROM q JOIN sh USING (sh) WHERE q.qid != sh.doc_id
           GROUP BY q.qid, sh.doc_id),
         scored AS (
           SELECT i.qid, i.doc_id,
             cast(i.inter as double) / (sq.sz + sd.sz - i.inter) AS jaccard
           FROM inter i
           JOIN sizes sq ON sq.doc_id = i.qid
           JOIN sizes sd ON sd.doc_id = i.doc_id)
         SELECT qid, doc_id, rn, jaccard FROM (
           SELECT qid, doc_id, jaccard,
             cast(row_number() OVER (PARTITION BY qid
               ORDER BY jaccard DESC, doc_id ASC) as int) AS rn
           FROM scored) WHERE rn <= 5""",
    "dedup_span_rewrite" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ')
                    AS toks FROM documents),
         sp AS (SELECT doc_id, i AS pos,
                  array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ')
                    AS span
                FROM t, unnest(range(0,
                  cast(ceil(length(toks)/8.0) AS bigint))) AS u(i)),
         r AS (SELECT doc_id, pos, span, row_number() OVER (
                 PARTITION BY md5(span) ORDER BY doc_id, pos) AS rn
               FROM sp),
         neu AS (SELECT doc_id,
                  array_to_string(list(span ORDER BY pos), ' ') AS new_text,
                  count(*) AS n_kept
                 FROM r WHERE rn = 1 GROUP BY doc_id),
         ns AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
         SELECT ns.doc_id, cast(n_spans AS bigint) AS n_spans,
           cast(n_spans - coalesce(n_kept, 0) AS bigint) AS n_dropped,
           md5(coalesce(new_text, '')) AS new_digest,
           cast(length(coalesce(new_text, '')) AS bigint) AS new_nchars
         FROM ns LEFT JOIN neu USING (doc_id)""",
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS norm
                    FROM documents),
         w AS (SELECT DISTINCT doc_id, md5(g) AS wh FROM (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(length(norm) - 29, 1) + 1),
             i -> substr(norm, i, 30))) AS g
           FROM t)),
         df AS (SELECT wh, count(*) AS ndocs FROM w GROUP BY wh)
         SELECT doc_id, count(*) AS n_windows,
           cast(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) as bigint)
             AS n_shared,
           cast(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) as double)
             / count(*) AS shared_frac
         FROM w JOIN df USING (wh) GROUP BY doc_id""",
    // incremental probe: batch windows vs the corpus's distinct window
    // set (window equality keyed on md5 of the substring, same
    // convention as dedup_substring's oracle)
    "dedup_substring_incremental" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS norm
                    FROM documents),
         w AS (SELECT DISTINCT doc_id, md5(g) AS wh FROM (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(length(norm) - 29, 1) + 1),
             i -> substr(norm, i, 30))) AS g
           FROM t)),
         corpus AS (SELECT DISTINCT wh FROM w WHERE doc_id % 10 <> 0),
         batch AS (SELECT doc_id, wh FROM w WHERE doc_id % 10 = 0)
         SELECT b.doc_id, count(*) AS n_windows,
           cast(sum(CASE WHEN c.wh IS NOT NULL THEN 1 ELSE 0 END)
                as bigint) AS n_shared,
           cast(sum(CASE WHEN c.wh IS NOT NULL THEN 1 ELSE 0 END)
                as double) / count(*) AS shared_frac
         FROM batch b LEFT JOIN corpus c ON b.wh = c.wh
         GROUP BY b.doc_id""",
    "dedup_containment" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ')
                    AS toks FROM documents),
         shl AS (SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 1, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 1), ' ')))
             AS shs
           FROM t),
         sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
         keptsh AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh
                    GROUP BY sh) WHERE df <= 250),
         kept AS (SELECT doc_id, sh FROM sh JOIN keptsh USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM kept
                   GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter
           FROM kept a JOIN kept b
             ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           cast(inter as double) / sa.sz AS cont_ab,
           cast(inter as double) / sb.sz AS cont_ba
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE greatest(cast(inter as double) / sa.sz,
                        cast(inter as double) / sb.sz) >= 0.6""",
    "dedup_simhash" -> {
      val sumCols = (0 until 16).map { k =>
        s"sum(CASE WHEN strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) " +
        s">= 9 THEN 1 ELSE -1 END) AS s_$k"
      }.mkString(",\n             ")
      val combine = (0 until 16).map { k =>
        s"(CASE WHEN s_$k >= 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (
           SELECT DISTINCT doc_id,
             unnest(list_distinct(string_split(lower(trim(text)), ' ')))
               AS tok
           FROM documents),
         b AS (SELECT doc_id, md5(tok) AS h FROM t),
         sums AS (
           SELECT doc_id,
             $sumCols
           FROM b GROUP BY doc_id)
         SELECT doc_id, cast($combine as int) AS simhash16 FROM sums"""
    }
  )
}
