package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.jaccard
import graft.functions.VectorFunctions.cosine

/** Persisted-index variants of the ANN and dedup pipelines — the
  * production "build once, probe many" shape the in-query versions
  * (simTopKKmeans, dedupIncrementalFrom) rebuild per run.
  *
  * The layouts are chosen so the RECURRING job's plan is cheap at 100 TB:
  *
  *  - The IVF index partitions vectors BY CLUSTER on disk
  *    (hive-partitioned parquet). A probe joins the tiny ranked-centroid
  *    table against the partition column, so Dynamic Partition Pruning
  *    skips every unprobed cluster directory at the scan — the probe reads
  *    nprobe/k of the corpus, verified by plan inspection in
  *    PersistedIndexSpec, with zero driver-side collection.
  *  - The dedup index persists the three per-corpus artifacts the delta
  *    join needs (normalized digests, LSH band digests, shingle sets), so
  *    a daily delta run scans ONLY the day's shard plus the index — the
  *    corpus text is never re-read, let alone re-shingled.
  */
object PersistedIndex {

  // ---------------------------------------------------------------- ANN --

  /** Build the IVF index at `path`: `vectors/` hive-partitioned by the
    * learned cluster (each directory one posting list, rows sorted by
    * vec_id for row-group stats), `centroids/` the k-row table.
    */
  def buildIvfIndex(spark: SparkSession, sfDir: String, path: String,
      k: Int = 8, iters: Int = 2): Unit = {
    val (cents, assigned) = SimilarityPipeline.kmeansModel(spark, sfDir, k, iters)
    graft.sources.CorpusWriter.writePartitioned(
      assigned.select(col("vec_id"), col("label"), col("v"), col("cluster"))
        .withColumn("qv", q8Codes(col("v"))),
      s"$path/vectors/ingest=base", Seq("cluster"), "vec_id")
    cents.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  /** Unit-normalized int8 codes for a double vector column — the same
    * normalize-then-quantize recipe as [[SimilarityPipeline.simTopKQ8]]
    * (on unit vectors the integer dot is a monotone cosine proxy). Stored
    * as `array<tinyint>`: 8x narrower than the float64 column on disk, and
    * the probe's stage 1 reads ONLY this column (parquet column pruning —
    * plan-asserted in PersistedIndexSpec).
    */
  private def q8Codes(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val norm = sqrt(graft.expressions.VectorExpressions.dotNative(v, v))
    val safeNorm = when(norm === 0.0, lit(1.0)).otherwise(norm)
    val unit = zip_with(v, array_repeat(safeNorm, size(v)), (x, n) => x / n)
    val amax = array_max(transform(unit, x => abs(x)))
    val scale = when(amax === 0.0, lit(0.0)).otherwise(lit(127.0) / amax)
    zip_with(unit, array_repeat(scale, size(v)),
      (x, s) => floor(x * s + lit(0.5)).cast("byte"))
  }

  /** Index maintenance — assign a DELTA of vectors to the EXISTING
    * centroids and append them to the cluster-partitioned layout, so the
    * daily embedding ingest extends the index without re-running Lloyd or
    * touching the corpus. The centroid table is k rows (broadcast bundle,
    * native per-row argmin — the same assignment the build used); the
    * delta lands in its own immutable `ingest=<token>` segment and the
    * manifest gains a version ([[StoreVersioning]], the round-12 store
    * discipline): replayed folds are no-ops (stored-id anti-join), and
    * a reader pinned to the pre-fold version is never torn.
    *
    * Re-centering drift is the documented trade: appended vectors do not
    * move centroids. Rebuild cadence (weekly rebuild, daily append) is the
    * standard IVF maintenance schedule.
    */
  def appendToIvfIndex(spark: SparkSession, delta: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    val cents = spark.read.parquet(s"$path/centroids")
    val storedIds = StoreVersioning.segments(spark, path, "vectors", live)
      .select(col("vec_id"))
    val fresh = delta
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .dropDuplicates("vec_id")
      .join(storedIds, Seq("vec_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return // full replay — nothing to fold
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    SimilarityPipeline.assignToCentroids(fresh, cents)
      .select(col("vec_id"), col("label"), col("v"), col("cluster"))
      .withColumn("qv", q8Codes(col("v")))
      .repartition(col("cluster"))
      .sortWithinPartitions("vec_id")
      .write.mode(SaveMode.Overwrite).partitionBy("cluster")
      .parquet(s"$path/vectors/ingest=$token")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** Drop IVF segments referenced by NO surviving manifest version —
    * run after [[StoreVersioning.pruneVersions]]. */
  def gcIvfSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("ivf"))

  /** Probe a persisted IVF index: rank the k centroids by cosine to the
    * query vector (vec_id `queryId` of the original corpus — kept out of
    * the results like simTopK), take `nprobe`, and scan ONLY those cluster
    * partitions via a broadcast join on the partition column (DPP prunes
    * the rest of the directory tree at runtime).
    */
  def probeIvfIndex(spark: SparkSession, sfDir: String, path: String,
      nprobe: Int = 2, topK: Int = 10, queryId: Int = 0,
      version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("q"))
    val probed = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(q))
      .select(col("cluster"), cosine(col("c"), col("q")).as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select(col("cluster"))
    val vectors = StoreVersioning.segments(spark, path, "vectors",
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg"))
    vectors.filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cluster")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cluster"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(topK)
      // post-limit window: <= topK rows (see simTopK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))
          .cast("long"))
      .select(col("rank"), col("vec_id"), col("cluster"),
        round(col("cos"), 4).as("sim"))
      .orderBy("rank")
  }

  /** Probe the persisted IVF index through its int8 codes — the
    * bandwidth-optimal recurring query: stage 1 scans ONLY the `qv` int8
    * column of the probed cluster partitions (8x less I/O than the float64
    * vectors; the float column never appears in the stage-1 scan schema —
    * plan-asserted) and over-retrieves 4x by integer dot against the
    * quantized query; stage 2 re-reads the float vectors for just those
    * candidates and returns the true cosine top k. Same DPP partition
    * pruning as [[probeIvfIndex]].
    */
  def probeIvfIndexQ8(spark: SparkSession, sfDir: String, path: String,
      nprobe: Int = 2, topK: Int = 10, queryId: Int = 0,
      version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("q"))
    val qq = q.select(q8Codes(col("q")).cast("array<double>").as("qq"))
    val probed = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(q))
      .select(col("cluster"), cosine(col("c"), col("q")).as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select(col("cluster"))
    val vectors = StoreVersioning.segments(spark, path, "vectors",
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg"))
    val candidates = vectors
      .select(col("vec_id"), col("cluster"), col("qv")) // int8 column ONLY
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cluster")
      .crossJoin(broadcast(qq))
      .select(col("vec_id"), col("cluster"),
        graft.expressions.VectorExpressions
          .dotNative(col("qv").cast("array<double>"), col("qq"))
          .cast("long").as("q8_dot"))
      .orderBy(col("q8_dot").desc, col("vec_id"))
      .limit(topK * 4)
    // stage 2 re-reads the float column THROUGH the same broadcast cluster
    // join, so its scan is partition-pruned to the nprobe directories too —
    // a bare vec_id join would scan every cluster's float column
    val stage2Vectors = vectors
      .join(broadcast(probed), "cluster")
      .select(col("vec_id"), col("v"))
    candidates
      .join(stage2Vectors, "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", cosine(col("v"), col("q")))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim_raw").desc, col("vec_id")))
          .cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("vec_id"), col("cluster"), col("q8_dot"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("rank")
  }

  /** Filtered ANN — the real retrieval workload ("nearest neighbors
    * WHERE label = L") pushed INSIDE the persisted-index probe instead
    * of filtering its result: stage 1 scans the probed clusters' int8
    * `qv` column with the metadata predicate in the parquet scan's
    * PushedFilters (plan-asserted in PersistedIndexSpec), so a selective
    * filter shrinks the CANDIDATE scan, not the answer. Two
    * compensations for selectivity (a ~10% filter leaves ~10% of each
    * probed cluster eligible, so an unwidened probe would rank top-k
    * from a thinned pool):
    *
    *  - over-probe: `nprobe` defaults to 2x the unfiltered probe (4 of
    *    8 clusters) — matching neighbors excluded by the coarse prune
    *    are the recall loss a filter amplifies;
    *  - over-fetch: stage 1 keeps `fetch` = topK x 8 candidates (2x the
    *    unfiltered 4x rule) before the exact rerank.
    *
    * At 10⁹ vectors the plan is unchanged: the predicate rides the
    * pruned code-column scan (row-group statistics skip non-matching
    * pages), candidates are TakeOrdered, stage 2 re-reads floats for
    * candidates only. FilteredAnnSpec floors recall vs the FILTERED
    * brute force across selectivities.
    */
  def probeIvfIndexFiltered(spark: SparkSession, sfDir: String,
      path: String, filterLabel: Int, nprobe: Int = 4, topK: Int = 10,
      fetch: Int = 80, queryId: Int = 0, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("q"))
    val qq = q.select(q8Codes(col("q")).cast("array<double>").as("qq"))
    val probed = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(q))
      .select(col("cluster"), cosine(col("c"), col("q")).as("ccos"))
      .orderBy(col("ccos").desc, col("cluster"))
      .limit(nprobe)
      .select(col("cluster"))
    val vectors = StoreVersioning.segments(spark, path, "vectors",
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg"))
    val candidates = vectors
      .select(col("vec_id"), col("cluster"), col("label"), col("qv"))
      .filter(col("label") === filterLabel) // → parquet PushedFilters
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cluster")
      .crossJoin(broadcast(qq))
      .select(col("vec_id"), col("cluster"),
        graft.expressions.VectorExpressions
          .dotNative(col("qv").cast("array<double>"), col("qq"))
          .cast("long").as("q8_dot"))
      .orderBy(col("q8_dot").desc, col("vec_id"))
      .limit(fetch)
    // stage 2 re-reads the float column through the same broadcast
    // cluster join (partition-pruned); candidates are already filtered
    val stage2Vectors = vectors
      .join(broadcast(probed), "cluster")
      .select(col("vec_id"), col("v"))
    candidates
      .join(stage2Vectors, "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("sim_raw", cosine(col("v"), col("q")))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim_raw").desc, col("vec_id")))
          .cast("long"))
      .filter(col("rank") <= topK)
      // partition-column type inference reads `cluster` back as int;
      // the oracle's kmeans replay carries BIGINT — pin the driver
      // surface to long explicitly
      .select(col("rank"), col("vec_id"),
        col("cluster").cast("long").as("cluster"), col("q8_dot"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("rank")
  }

  /** Build-once IVF session store (the pq/ivfpq/lsh session-store
    * discipline) backing the filtered-probe driver surface. */
  private def sessionIvfStore(spark: SparkSession, sfDir: String): String =
    SessionCache.directory(spark, "graft-ivf-store", sfDir)(
      buildIvfIndex(spark, sfDir, _))

  /** The label used by the `sim_topk_filtered` driver query — ~10% of
    * the corpus at every SF (the 10-label synthetic embedding table). */
  val FilteredAnnLabel = 3

  /** Filtered-probe driver surface: train+persist once per (app, sfDir),
    * probe with the metadata predicate pushed into the code-column scan
    * — answers the sim_topk_filtered recompute oracle (kmeans + q8 +
    * widened probe + filter, both stages replayed). */
  def ivfFilteredFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeIvfIndexFiltered(spark, sfDir, sessionIvfStore(spark, sfDir),
      FilteredAnnLabel)

  // ------------------------------------------------- persisted PQ index --

  /** Build the persisted PQ index at `path` — the durable form of
    * [[SimilarityPipeline.pqTopK]]'s per-run training (FAISS's IVF-PQ
    * "train once, encode forever" shape without the IVF level, which
    * [[buildIvfIndex]] already covers):
    *
    *  - `codebooks/` — the FROZEN per-subspace codewords as (m, pos, c)
    *    rows (PqM × PqK rows total; `pos` preserves the cluster-id sort
    *    so reading back rebuilds the exact plan literals training
    *    produced);
    *  - `codes/ingest=<t>/shard=S/` — (vec_id, label, codes, v): the M
    *    uint4-sized code positions per vector PLUS the float vector —
    *    stage 1 of a probe scans ONLY `codes` (parquet column pruning,
    *    the [[probeIvfIndexQ8]] bandwidth discipline), stage 2 re-reads
    *    `v` for the PqFetch candidates;
    *  - `manifest/version=N/` — [[StoreVersioning]] segments, so appends
    *    are immutable folds and pinned readers never tear.
    */
  def buildPqIndex(spark: SparkSession, sfDir: String, path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = SimilarityPipeline.pqCodebooks(spark, sfDir)
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case ((_, vecs), m) =>
      vecs.zipWithIndex.map { case (c, pos) => (m, pos, c) }
    }.toDF("m", "pos", "c").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    writePqSegment(spark, e, path, "base")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  /** The stored codebooks read back in [[SimilarityPipeline.pqCodebooks]]'
    * literal shape — bounded: PqM × PqK rows. */
  private def pqStoredCodebooks(spark: SparkSession, path: String)
      : IndexedSeq[Array[Seq[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy(col("m"), col("pos")).collect()
    (0 until SimilarityPipeline.PqM).map { m =>
      rows.filter(_.getInt(0) == m).map(_.getSeq[Double](2))
    }
  }

  /** Encode to the M nearest-codeword POSITIONS with the frozen
    * codebooks riding as plan literals — one codegen'd scan, no join. */
  private def pqCodesCol(cbs: IndexedSeq[Array[Seq[Double]]],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until SimilarityPipeline.PqM).map { m =>
      graft.expressions.VectorExpressions.nearestCentroidNative(
        slice(v, m * SimilarityPipeline.PqSubDim + 1,
          SimilarityPipeline.PqSubDim),
        typedlit(cbs(m).toSeq)).getField("idx")
    }: _*)

  private def writePqSegment(spark: SparkSession, vectors: DataFrame,
      path: String, token: String): Unit = {
    val cbs = pqStoredCodebooks(spark, path)
    vectors.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("label"),
        pqCodesCol(cbs, col("v")).as("codes"), col("v"),
        pmod(col("vec_id"), lit(LshVecShards.toLong)).as("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(s"$path/codes/ingest=$token")
  }

  /** Fold new vectors in: encode with the FROZEN codebooks, drop stored
    * ids (replay = no-op), land an immutable segment, publish a version.
    * Codebook drift is the documented trade, exactly like
    * [[appendToIvfIndex]]'s centroids (weekly retrain, daily append). */
  def appendToPqIndex(spark: SparkSession, delta: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    val storedIds = StoreVersioning.segments(spark, path, "codes", live)
      .select(col("vec_id"))
    val fresh = delta.select(col("vec_id"), col("label"), col("embedding"))
      .dropDuplicates("vec_id")
      .join(storedIds, Seq("vec_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writePqSegment(spark, fresh, path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** Drop PQ segments referenced by NO surviving manifest version —
    * run after [[StoreVersioning.pruneVersions]]. */
  def gcPqSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("pq"))

  /** Probe the persisted PQ index: stage 1 ranks by the cosine of the
    * RECONSTRUCTION decoded from the STORED codes (the ADC sum — element
    * lookups into the frozen-codebook literals, `codes` is the only
    * vector-ish column scanned), stage 2 exact-reranks the PqFetch
    * candidates from their float vectors. Output contract =
    * [[SimilarityPipeline.pqTopK]] row-for-row (the driver's `pq_store`
    * oracle — stored codes equal re-encoded codes by construction, both
    * sides of that equality being the same frozen expression).
    */
  def probePqIndex(spark: SparkSession, path: String, qId: Long = 0L,
      version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = pqStoredCodebooks(spark, path)
    val codes = StoreVersioning.segments(spark, path, "codes",
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg"))
    val recon = concat((0 until SimilarityPipeline.PqM).map { m =>
      element_at(typedlit(cbs(m).toSeq),
        element_at(col("codes"), m + 1) + 1)
    }: _*)
    val q = codes.filter(col("vec_id") === qId).select(col("v").as("q"))
    val cand = codes.filter(col("vec_id") =!= qId)
      .select(col("vec_id"), col("codes")) // stage 1: codes only
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("q"), cosine(recon, col("q")).as("sim_pq"))
      .orderBy(col("sim_pq").desc, col("vec_id"))
      .limit(SimilarityPipeline.PqFetch)
    cand
      .join(codes.select(col("vec_id"), col("v")), "vec_id")
      .select(col("vec_id"), col("sim_pq"),
        cosine(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(SimilarityPipeline.PqTopK)
      // post-limit window: <= PqTopK rows (the simTopK note)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
          .cast("long"))
      .select(col("rank"), col("vec_id"),
        round(col("sim_pq"), 4).as("sim_pq"),
        round(col("sim"), 4).as("sim"))
      .orderBy("rank")
  }

  /** The store as a driver surface: train + encode the whole snapshot
    * once per (app, sfDir), probe from STORED codes — answers the
    * pq_topk recompute oracle, so the green hash proves
    * train→persist→decode-probe round-trips the in-query PQ exactly
    * (the append path's frozen-codebook contract is PersistedIndexSpec's).
    */
  def pqTopKFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-pq-store", sfDir)(
      buildPqIndex(spark, sfDir, _))
    probePqIndex(spark, path)
  }


  // --------------------------------------------- persisted IVF+PQ index --

  /** Build the persisted IVF+PQ index at `path` — the FAISS IVFADC
    * layout ([[SimilarityPipeline.simTopKIvfPq]]'s durable form, and the
    * composite of [[buildIvfIndex]]'s partition pruning with
    * [[buildPqIndex]]'s code-narrow scans):
    *
    *  - `codebooks/` — the frozen per-subspace PQ codewords (the
    *    [[buildPqIndex]] shape);
    *  - `centroids/` — the frozen coarse quantizer: one (label,
    *    centroid) row per cluster (per-label mean at build time);
    *  - `codes/ingest=<t>/label=L/` — (vec_id, codes, v) hive-partitioned
    *    by coarse cluster, so a probe's stage 1 reads ONLY its nprobe
    *    partitions' `codes` column;
    *  - `manifest/version=N/` — [[StoreVersioning]] segments.
    */
  def buildIvfPqIndex(spark: SparkSession, sfDir: String,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = SimilarityPipeline.pqCodebooks(spark, sfDir)
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case ((_, vecs), m) =>
      vecs.zipWithIndex.map { case (c, pos) => (m, pos, c) }
    }.toDF("m", "pos", "c").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    SimilarityPipeline.centroidsByLabel(e)
      .select(col("label"), col("centroid"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    writeIvfPqSegment(spark, e, path, "base")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  private def writeIvfPqSegment(spark: SparkSession, vectors: DataFrame,
      path: String, token: String): Unit = {
    val cbs = pqStoredCodebooks(spark, path)
    graft.sources.CorpusWriter.writePartitioned(
      vectors.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("label"),
          pqCodesCol(cbs, col("v")).as("codes"), col("v")),
      s"$path/codes/ingest=$token", Seq("label"), "vec_id")
  }

  /** Fold new vectors in under the FROZEN codebooks and coarse clusters
    * (delta rows carry their cluster label; codebooks ride from the
    * store) — replayed folds are no-ops, pinned readers never tear.
    * Centroid/codebook drift is the documented weekly-rebuild trade
    * ([[appendToIvfIndex]]). */
  def appendToIvfPqIndex(spark: SparkSession, delta: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    val storedIds = StoreVersioning.segments(spark, path, "codes", live)
      .select(col("vec_id"))
    val fresh = delta.select(col("vec_id"), col("label"), col("embedding"))
      .dropDuplicates("vec_id")
      .join(storedIds, Seq("vec_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeIvfPqSegment(spark, fresh, path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** Drop IVF+PQ segments referenced by NO surviving manifest version —
    * run after [[StoreVersioning.pruneVersions]]. */
  def gcIvfPqSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("ivfpq"))

  /** The streaming ingest twin of [[appendToIvfPqIndex]] — each arriving
    * micro-batch of (vec_id, label, embedding) folds through the same
    * frozen-codebook segment + manifest discipline (at-least-once
    * replays are absorbed by the stored-id dedup). Start with
    * `.start()`. */
  def ivfPqIngestStream(vecs: DataFrame, path: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendToIvfPqIndex(batch.sparkSession, batch.toDF(), path)
      }

  /** Compact a delta-grown IVF+PQ index: fold every live segment into
    * ONE new `ingest=c<v>` segment (re-partitioned by cluster) and
    * publish it as the next manifest version — readers pinned to the old
    * version keep their segments; [[gcIvfPqSegments]] is the retention
    * pass. Codes are copied verbatim (the codebooks are frozen, so
    * re-encoding is a no-op by construction — cheaper to not re-run it).
    */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit = {
    val all = StoreVersioning.segments(spark, path, "codes",
        StoreVersioning.liveTokens(spark, s"$path/manifest")("seg"))
      .select(col("vec_id"), col("label"), col("codes"), col("v"))
      .transform(Fence)
    val token =
      s"c${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    graft.sources.CorpusWriter.writePartitioned(
      all, s"$path/codes/ingest=$token", Seq("label"), "vec_id")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", token)))
  }

  /** Probe the persisted IVF+PQ index — the [[probeIvfIndexQ8]] pruning
    * discipline with PQ codes as the stage-1 payload: the stored coarse
    * centroids pick nprobe clusters, stage 1 scans ONLY those label
    * partitions' `codes` column (ADC from the frozen-codebook literals),
    * stage 2 re-reads `v` through the same broadcast label join
    * (partition-pruned) and exact-reranks. Output contract =
    * [[SimilarityPipeline.simTopKIvfPq]] row-for-row (the driver's
    * `ivfpq_store` oracle).
    */
  def probeIvfPqIndex(spark: SparkSession, sfDir: String, path: String,
      queryId: Long = 0L, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = pqStoredCodebooks(spark, path)
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("q"))
    val probed = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(q))
      .select(col("label"), cosine(col("centroid"), col("q")).as("ccos"))
      .orderBy(col("ccos").desc, col("label"))
      .limit(SimilarityPipeline.IvfProbe)
      .select(col("label"))
    val codes = StoreVersioning.segments(spark, path, "codes", live)
    val recon = concat((0 until SimilarityPipeline.PqM).map { m =>
      element_at(typedlit(cbs(m).toSeq),
        element_at(col("codes"), m + 1) + 1)
    }: _*)
    val cand = codes
      .select(col("vec_id"), col("label"), col("codes")) // stage 1: codes
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "label")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("q"),
        cosine(recon, col("q")).as("sim_pq"))
      .orderBy(col("sim_pq").desc, col("vec_id"))
      .limit(SimilarityPipeline.PqFetch)
    // stage 2 re-reads the float column THROUGH the broadcast label join
    // so its scan is partition-pruned to the nprobe directories too
    val stage2 = codes.join(broadcast(probed), "label")
      .select(col("vec_id"), col("v"))
    cand
      .join(stage2, "vec_id")
      .select(col("vec_id"), col("label"), col("sim_pq"),
        cosine(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(SimilarityPipeline.PqTopK)
      // post-limit window: <= PqTopK rows (the simTopK note)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
          .cast("long"))
      .select(col("rank"), col("vec_id"), col("label"),
        round(col("sim_pq"), 4).as("sim_pq"),
        round(col("sim"), 4).as("sim"))
      .orderBy("rank")
  }

  /** The store as a driver surface: train + persist the whole snapshot
    * once per (app, sfDir), probe from stored centroids + codes —
    * answers the sim_topk_ivfpq recompute oracle, so the green hash
    * proves train→persist→pruned-decode-probe equals the in-query
    * composite exactly. */
  private def sessionIvfPqStore(spark: SparkSession,
      sfDir: String): String =
    SessionCache.directory(spark, "graft-ivfpq-store", sfDir)(
      buildIvfPqIndex(spark, sfDir, _))

  def ivfPqTopKFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeIvfPqIndex(spark, sfDir, sessionIvfPqStore(spark, sfDir))

  /** RANGE-filtered IVF+PQ probe — the recency-window retrieval shape
    * ("nearest neighbors among vec_id ∈ [lo, hi)", the time-slice filter
    * of an append-ordered id space), completing [[probeIvfIndexFiltered]]
    * (equality) and [[probeLshIndexFiltered]] with the third predicate
    * class: the range lands in the stage-1 CODES scan's parquet
    * PushedFilters (row-group min/max stats skip non-matching pages — on
    * an append-ordered store the range prunes almost perfectly), inside
    * the same probed-partition pruning. Selectivity compensation:
    * over-probe ([[SimilarityPipeline.IvfProbe]]+1 coarse cells) and 2x
    * over-fetch before the exact rerank.
    */
  def probeIvfPqIndexFiltered(spark: SparkSession, sfDir: String,
      path: String, minId: Long, maxId: Long,
      nprobe: Int = SimilarityPipeline.IvfProbe + 1,
      fetch: Int = SimilarityPipeline.PqFetch * 2,
      queryId: Long = 0L, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = pqStoredCodebooks(spark, path)
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("q"))
    val probed = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(q))
      .select(col("label"), cosine(col("centroid"), col("q")).as("ccos"))
      .orderBy(col("ccos").desc, col("label"))
      .limit(nprobe)
      .select(col("label"))
    val codes = StoreVersioning.segments(spark, path, "codes", live)
    val recon = concat((0 until SimilarityPipeline.PqM).map { m =>
      element_at(typedlit(cbs(m).toSeq),
        element_at(col("codes"), m + 1) + 1)
    }: _*)
    val cand = codes
      .select(col("vec_id"), col("label"), col("codes")) // stage 1: codes
      .filter(col("vec_id") >= minId && col("vec_id") < maxId) // pushed
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "label")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("q"),
        cosine(recon, col("q")).as("sim_pq"))
      .orderBy(col("sim_pq").desc, col("vec_id"))
      .limit(fetch)
    // stage 2 re-reads the float column THROUGH the broadcast label join
    // so its scan is partition-pruned to the nprobe directories too
    val stage2 = codes.join(broadcast(probed), "label")
      .select(col("vec_id"), col("v"))
    cand
      .join(stage2, "vec_id")
      .select(col("vec_id"), col("label"), col("sim_pq"),
        cosine(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(SimilarityPipeline.PqTopK)
      // post-limit window: <= PqTopK rows (the simTopK note)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
          .cast("long"))
      .select(col("rank"), col("vec_id"), col("label"),
        round(col("sim_pq"), 4).as("sim_pq"),
        round(col("sim"), 4).as("sim"))
      .orderBy("rank")
  }

  /** Range-filtered probe driver surface over the session store —
    * answers the ivfpq_store_filtered recompute oracle. */
  def ivfPqFilteredFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeIvfPqIndexFiltered(spark, sfDir, sessionIvfPqStore(spark, sfDir),
      SimilarityPipeline.FilteredRangeLo, SimilarityPipeline.FilteredRangeHi)


  /** Per-query id-range panel for the batched filtered probe — query
    * `q` of the panel filters to vec_id ∈ [60+30q, 240+30q); the union
    * window [60, 450) is present at every SF (dense ids). */
  private[graft] val FilteredBatchLoBase = 60L
  private[graft] val FilteredBatchStep = 30L
  private[graft] val FilteredBatchWidth = 180L

  /** Batched AND filtered IVF+PQ probe — the real serving workload
    * ("8 queries, each with its own recency window") through ONE shared
    * pass: the UNION of the panel's ranges rides the shared stage-1
    * codes scan's parquet PushedFilters (row-group min/max skipping),
    * each query's own range is applied at the probe fan-out join, and
    * the per-query widened probe (+3 coarse cells — the panel's 180-id
    * ranges are narrower than the single-query window, so each query
    * probes half the coarse cells; measured recall vs the per-query
    * filtered brute force is 0.2-0.7 per query / ~0.5 average at
    * sf0.001, the honest range-restricted IVFADC envelope, spec-pinned
    * like the LSH bucket-collision floor) and 2x over-fetch
    * compensate selectivity exactly like the single-query
    * [[probeIvfPqIndexFiltered]]. No per-query job anywhere — with 10⁶
    * queries the same plan shuffles the fan-out on (q_id), nothing else.
    */
  def probeIvfPqIndexFilteredBatch(spark: SparkSession, sfDir: String,
      path: String, nQueries: Int = 8,
      nprobe: Int = SimilarityPipeline.IvfProbe + 3,
      fetch: Int = SimilarityPipeline.PqFetch * 2,
      version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val cbs = pqStoredCodebooks(spark, path)
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val queries = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("q"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("label"))
    // fenced: the ≤ nQueries×nprobe-row probe table feeds BOTH stages —
    // unfenced, stage 2 re-plans (and re-executes) the window chain
    val probes = spark.read.parquet(s"$path/centroids")
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("label"),
        cosine(col("centroid"), col("q")).as("ccos"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("q_id"), col("label"))
      .transform(Fence)
    val codes = StoreVersioning.segments(spark, path, "codes", live)
    val recon = concat((0 until SimilarityPipeline.PqM).map { m =>
      element_at(typedlit(cbs(m).toSeq),
        element_at(col("codes"), m + 1) + 1)
    }: _*)
    val lo = lit(FilteredBatchLoBase) + col("q_id") * FilteredBatchStep
    val hi = lo + FilteredBatchWidth
    val unionHi = FilteredBatchLoBase +
      FilteredBatchStep * (nQueries - 1) + FilteredBatchWidth
    val w1 = Window.partitionBy("q_id")
      .orderBy(col("sim_pq").desc, col("vec_id"))
    val s1 = codes
      .select(col("vec_id"), col("label"), col("codes")) // stage 1: codes
      // the PANEL-UNION range — pushed into the shared scan
      .filter(col("vec_id") >= FilteredBatchLoBase &&
        col("vec_id") < unionHi)
      .join(broadcast(probes), "label")
      // each query's OWN range at the fan-out join
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"), col("label"), col("q"),
        cosine(recon, col("q")).as("sim_pq"))
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= fetch)
    // stage 2 re-reads floats through the probed-partition union only
    val stage2 = codes
      .join(broadcast(probes.select("label").distinct()), "label")
      .select(col("vec_id"), col("v"))
    val w2 = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    // s1 is ≤ nQueries×fetch rows — broadcast it so the rerank join
    // never shuffles the (pruned) stage-2 float scan
    broadcast(s1).join(stage2, "vec_id")
      .select(col("q_id"), col("vec_id"), col("label"), col("sim_pq"),
        cosine(col("v"), col("q")).as("sim"))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= SimilarityPipeline.PqTopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        round(col("sim_pq"), 4).as("sim_pq"), round(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  // -------------------------------------------------- decontamination --

  /** Persist the eval-side decontamination artifacts at `path` — built
    * ONCE per benchmark release, not per training run (the
    * [[TextPipeline.decontaminateBloom]] in-query shape rebuilds the
    * bloom from eval text every run):
    *
    *  - `bloom/`: the winnowed-fingerprint bloom filter, ONE binary row
    *    (~160 KB at the default sizing) — the map-side prefilter;
    *  - `fingerprints/`: (doc_id, fingerprint) rows — the exact-verify
    *    side that removes bloom false positives, so probes never re-read
    *    (or re-winnow) eval TEXT.
    */
  def buildEvalBloom(spark: SparkSession, eval: DataFrame, path: String,
      expectedItems: Long = 131072L): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val fp = eval.select(col("doc_id"),
      explode(graft.expressions.VectorExpressions.winnowNative(col("text")))
        .as("fingerprint"))
    fp.write.mode(SaveMode.Overwrite).parquet(s"$path/fingerprints")
    // aggregate the bloom from the rows just persisted — re-deriving from
    // the eval frame would winnow all eval text a second time
    spark.read.parquet(s"$path/fingerprints")
      .createOrReplaceTempView("graft_eval_bloom_build")
    spark.sql(
      s"""SELECT graft_bloom_agg(fingerprint, ${expectedItems}L) AS bloom
         |FROM graft_eval_bloom_build""".stripMargin)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bloom")
  }

  /** Decontaminate a training corpus against a persisted eval bloom:
    * same output contract as [[TextPipeline.decontaminateBloom]]
    * (eval_doc_id, n_shared), but the eval side is entirely the persisted
    * index. The bloom blob is read ONCE driver-side (one tiny row) and
    * embedded as a literal, so the probe plan is: scan train text →
    * winnow → codegen'd might_contain prefilter (map-side, no shuffle of
    * non-matching fingerprints) → exact join against `fingerprints/` to
    * kill false positives. Eval text is never scanned — plan-asserted.
    */
  def probeEvalBloom(spark: SparkSession, train: DataFrame,
      path: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val bloomBytes = spark.read.parquet(s"$path/bloom")
      .head.getAs[Array[Byte]]("bloom")
    val evalFps = spark.read.parquet(s"$path/fingerprints")
    val trainFps = train
      .select(explode(
        graft.expressions.VectorExpressions.winnowNative(col("text")))
        .as("fingerprint"))
      .filter(call_function("graft_might_contain",
        lit(bloomBytes), col("fingerprint")))
      .distinct()
    evalFps.join(trainFps, "fingerprint")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id").as("eval_doc_id"), col("n_shared"))
      .orderBy("eval_doc_id")
  }

  // -------------------------------------------------------------- dedup --

  private val JaccardThreshold = 0.8

  /** Persist the corpus dedup index at `path`: `digests/` (doc_id, h),
    * `bands/` (doc_id, band, digest), `sets/` (doc_id, s) — each laid
    * out for its probe join, each an immutable `ingest=<token>` segment
    * under a [[StoreVersioning]] manifest (one token covers the trio —
    * they share the prep subtree and fold together). One corpus scan
    * builds all three.
    */
  def buildDedupIndex(spark: SparkSession, corpus: DataFrame,
      path: String): Unit = {
    writeDedupSegment(spark, corpus, path, "base")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  private def writeDedupSegment(spark: SparkSession, docs: DataFrame,
      path: String, token: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val prep = docs
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"),
        graft.expressions.VectorExpressions.shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    prep.select(col("doc_id"), col("h"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/digests/ingest=$token")
    prep.select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bands/ingest=$token")
    prep.select(col("doc_id"), col("s"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/sets/ingest=$token")
  }

  /** Index maintenance — fold an ACCEPTED delta into the persisted index
    * so tomorrow's run dedups against it too: the delta's
    * digest/band/set rows land in their own immutable segment and the
    * manifest gains a version (delta-sized work; a replayed fold
    * rewrites its staging and republishes — readers pinned to the old
    * version never see a half-landed delta, the round-12 store
    * discipline).
    */
  def appendToDedupIndex(spark: SparkSession, delta: DataFrame,
      path: String): Unit = {
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    // replayed folds are no-ops (the LSH/IVF store discipline): ids the
    // live segments already hold would otherwise double their band/set
    // rows and inflate every later probe's n_near
    val storedIds = StoreVersioning.segments(spark, path, "digests", live)
      .select(col("doc_id"))
    val fresh = delta.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
      .join(storedIds, Seq("doc_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeDedupSegment(spark, fresh, path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** [[TextPipeline.dedupIncrementalFrom]] against a PERSISTED corpus
    * index: identical output contract (doc_id, dup_exact, n_near, novel),
    * but the corpus side reads the materialized digest/band/set tables —
    * the day's delta is the only text scanned or shingled.
    */
  def dedupDeltaAgainstIndex(spark: SparkSession, delta: DataFrame,
      path: String, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val segs =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val deltaPrep = delta
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"),
        graft.expressions.VectorExpressions.shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    val idxBands = StoreVersioning.segments(spark, path, "bands", segs)
    val idxSets = StoreVersioning.segments(spark, path, "sets", segs)
    val idxDigests = StoreVersioning.segments(spark, path, "digests", segs)
    val cands = deltaPrep
      .select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
      .join(idxBands.select(col("doc_id").as("corpus_doc"), col("band"),
        col("digest")), Seq("band", "digest"))
      .select(col("doc_id"), col("corpus_doc"))
      .distinct()
    val near = cands
      .join(deltaPrep.select(col("doc_id"), col("s").as("sd")), "doc_id")
      .join(idxSets.select(col("doc_id").as("corpus_doc"), col("s").as("sc")),
        "corpus_doc")
      .filter(round(jaccard(col("sd"), col("sc")), 4) >= JaccardThreshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    val exact = idxDigests.select(col("h")).distinct()
      .withColumn("dup_exact", lit(true))
    deltaPrep.select(col("doc_id"), col("h"))
      .join(exact, Seq("h"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("dup_exact"), lit(false)) === false &&
          coalesce(col("n_near"), lit(0L)) === 0).as("novel"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- shingle overlap --

  /** Build the train-side shingle index at `path` for incremental
    * overlap/contamination checks ([[SubstringDedup.overlapReport]]'s
    * daily shape): `hashes/` the DISTINCT 8-gram md5s (shingle-vocabulary
    * sized, no text, no positions), `bloom/` a one-row bloom over them
    * (the buildEvalBloom discipline — probe jobs prefilter against the
    * broadcast bloom so non-matching shingles never shuffle).
    */
  def buildShingleIndex(spark: SparkSession, train: DataFrame, path: String,
      len: Int = SubstringDedup.SpanLen,
      expectedItems: Long = 1L << 20): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    SubstringDedup.shingleOccurrences(train, len)
      .select("h").distinct()
      .write.mode(SaveMode.Overwrite).parquet(s"$path/hashes/ingest=base")
    commitShingleVersion(spark, path, Seq("base"), expectedItems)
  }

  /** Append a delta's NEW shingle hashes (anti-joined against the stored
    * set — an index-sized read, never a corpus re-scan) as an immutable
    * segment, rebuild the bloom AS PART OF the new version, and publish
    * — the previous in-place bloom overwrite left a window where a
    * probe read a missing or newer-than-its-hashes bloom; now each
    * version carries its own `bloom=<token>` artifact and pinned
    * readers stay consistent (the round-12 store discipline).
    */
  def appendToShingleIndex(spark: SparkSession, delta: DataFrame,
      path: String, len: Int = SubstringDedup.SpanLen,
      expectedItems: Long = 1L << 20): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    SubstringDedup.shingleOccurrences(delta, len)
      .select("h").distinct()
      .join(shingleHashes(spark, path, live), Seq("h"), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/hashes/ingest=$token")
    commitShingleVersion(spark, path, live :+ token, expectedItems)
  }

  private def shingleHashes(spark: SparkSession, path: String,
      segs: Seq[String]): DataFrame =
    StoreVersioning.segments(spark, path, "hashes", segs).select(col("h"))

  /** Rebuild the bloom over the given segments into its own immutable
    * `bloom/token=<t>` artifact, then publish the manifest version that
    * references both. */
  private def commitShingleVersion(spark: SparkSession, path: String,
      segs: Seq[String], expectedItems: Long): Unit = {
    val bloomToken = segs.last
    shingleHashes(spark, path, segs)
      .createOrReplaceTempView("graft_shingle_bloom_build")
    spark.sql(
      s"""SELECT graft_bloom_agg(h, ${expectedItems}L) AS bloom
FROM graft_shingle_bloom_build""")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bloom/token=$bloomToken")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      segs.map(("seg", _)) :+ ("bloom", bloomToken))
  }

  /** Per-delta-document overlap against the INDEX — same output contract
    * as [[SubstringDedup.overlapReport]] (n_grams, n_hit, overlap_frac,
    * contaminated at 20%), but the train corpus is never re-read: the
    * delta's shingles bloom-prefilter against the broadcast one-row
    * filter (killing the shuffle for the novel majority), and the exact
    * semi-join against `hashes/` removes bloom false positives.
    */
  def overlapDeltaAgainstIndex(spark: SparkSession, delta: DataFrame,
      path: String, len: Int = SubstringDedup.SpanLen,
      version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest", version)
    val bloomBytes = spark.read
      .parquet(s"$path/bloom/token=${live("bloom").head}")
      .head.getAs[Array[Byte]]("bloom")
    val occ = SubstringDedup.shingleOccurrences(delta, len)
    val hits = occ
      .filter(call_function("graft_might_contain",
        lit(bloomBytes), col("h")))
      .join(shingleHashes(spark, path, live("seg")),
        Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val totals = delta
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= len)
      .select(col("doc_id"),
        (size(col("toks")) - (len - 1)).cast("long").as("n_grams"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_grams"), 4).as("overlap_frac"),
        (coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_grams") >= 0.2).as("contaminated"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- bigram LM store --

  /** Persist the bigram-LM statistics [[TextPipeline.lmBigramFrom]]
    * derives per run — the "train the filter LM once, score every crawl"
    * shape: `bigrams/` (token, nxt, c_bg) hash-bucketed by token,
    * `prefixes/` (token, c_prefix), `meta/` the 1-row vocab size. All
    * three are vocab-sized, text never persists.
    */
  def buildLmIndex(spark: SparkSession, corpus: DataFrame,
      path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val toksPos = corpus
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions
        .tokens(col("text"))).as(Seq("pos", "token")))
    val bigrams = toksPos
      .withColumn("nxt", lead(col("token"), 1)
        .over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
    bigrams.groupBy(col("token"), col("nxt"))
      .agg(count(lit(1)).cast("long").as("c_bg"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bigrams")
    bigrams.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("c_prefix"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/prefixes")
    toksPos.agg(countDistinct(col("token")).cast("long").as("v_size"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
  }

  /** Score a corpus against the PERSISTED LM —
    * [[TextPipeline.lmBigramFrom]]'s Laplace formula with the counts read
    * from `path` instead of derived from the scored corpus itself, so
    * scoring a crawl never re-aggregates the training counts. An unseen
    * bigram/prefix scores with c = 0 (the Laplace floor keeps it finite)
    * — the frozen-LM semantics a production quality filter wants. Joins
    * are token-keyed against the vocab-sized stats; the per-doc fold is
    * position-ordered.
    */
  def scoreLmIndex(spark: SparkSession, corpus: DataFrame,
      path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = spark.read.parquet(s"$path/bigrams")
    val pf = spark.read.parquet(s"$path/prefixes")
    val v = spark.read.parquet(s"$path/meta").head.getLong(0)
    val toksPos = corpus
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions
        .tokens(col("text"))).as(Seq("pos", "token")))
    val bigrams = toksPos
      .withColumn("nxt", lead(col("token"), 1)
        .over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
    bigrams
      .join(bg, Seq("token", "nxt"), "left")
      .join(pf, Seq("token"), "left")
      .withColumn("lnp", log(
        (coalesce(col("c_bg"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("c_prefix"), lit(0L)).cast("double") + v)))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lnp"))))
        .as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast("long").as("n_bigrams"),
        aggregate(transform(col("arr"), x => x.getField("lnp")),
          lit(0.0), (a, b) => a + b).as("sum_lnp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lnp") / col("n_bigrams"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_bigrams")), 4).as("perplexity"))
  }

  /** Streaming scorer over the persisted LM — each arriving document
    * prices its perplexity against the FROZEN counts (stream-static
    * token-keyed joins, no state store: a document's bigrams complete
    * within its own row). The ingest-side quality filter of the LM
    * family, the decontaminateStream discipline applied to scoring.
    */
  def scoreLmStream(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame = {
    val bg = spark.read.parquet(s"$path/bigrams")
    val pf = spark.read.parquet(s"$path/prefixes")
    val v = spark.read.parquet(s"$path/meta").head.getLong(0)
    // per-row bigram explode: position travels with the pair, so no
    // window/state is needed on the stream side
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
          .as(Seq("pos", "token")))
      .withColumn("nxt", element_at(col("toks"), col("pos") + 2))
      .drop("toks")
      .join(bg, Seq("token", "nxt"), "left")
      .join(pf, Seq("token"), "left")
      .withColumn("lnp", log(
        (coalesce(col("c_bg"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("c_prefix"), lit(0L)).cast("double") + v)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("lnp")).as("sum_lnp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lnp") / col("n_bigrams"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_bigrams")), 4).as("perplexity"))
  }

  // -------------------------------------------------- inverted text index --

  /** Hash-bucket count for the persisted postings layout — the partition
    * key a term query prunes on.
    */
  private val TermBuckets = 64

  private def termBucket(term: org.apache.spark.sql.Column) =
    pmod(hash(term), lit(TermBuckets))

  /** Persist the inverted text index at `path`:
    *
    *  - `postings/ingest=<token>/` hive-partitioned by
    *    `bucket = hash(term) % 64` — a term query's buckets are
    *    CONSTANT-FOLDABLE (hash of a literal), so partition pruning drops
    *    63/64 of the index at the scan; within a bucket, rows are the
    *    document-sharded [[Retrieval.postingsFrom]] groups (a stopword
    *    splits across shards instead of one giant row). The `ingest`
    *    level isolates each build/append/stream-batch in its own
    *    directory, which is what makes the streaming writer's replay
    *    OVERWRITE idempotent (and costs a query nothing: pruning is on
    *    `bucket`, `ingest` is just discovered).
    *  - `meta/ingest=<token>/` one corpus-count row per build/append —
    *    summed at query time for the IDF normalizer, so search never
    *    touches corpus text.
    */
  def buildTextIndex(spark: SparkSession, corpus: DataFrame,
      path: String): Unit = {
    writeTextIndexDelta(corpus, path, "base", SaveMode.Overwrite)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  /** Append a delta corpus's postings as a NEW immutable segment —
    * existing posting files are never rewritten (the
    * [[appendToShingleIndex]] shape). A term present in both corpus and
    * delta simply has more (term, shard) rows; [[searchTextIndex]]
    * re-merges by summation, exactly like the HLL/histogram sketch
    * stores. The fold publishes a new manifest version
    * ([[StoreVersioning]]): readers pinned to the old version never see
    * the new segment.
    */
  def appendToTextIndex(spark: SparkSession, delta: DataFrame,
      path: String): Unit = {
    val dir = s"$path/manifest"
    val rows = textIndexRows(StoreVersioning.liveTokens(spark, dir))
    val token = s"d${StoreVersioning.latestVersion(spark, dir) + 1}"
    writeTextIndexDelta(delta, path, token, SaveMode.Overwrite)
    StoreVersioning.commitTokens(spark, dir, rows :+ ("seg", token))
  }

  /** A version's manifest rows, to carry into the next version. Kinds:
    * `seg` (postings/meta/doclens segments), `tomb` (tombstone
    * segments) and `folded` — every streaming-batch token EVER folded
    * into this store, carried through every version (compactions
    * included, which fold segments away but must not forget them): the
    * replay guard for [[appendTextIndexBatch]] checks THIS ledger, not
    * segment liveness, so a batch replayed AFTER a compaction absorbed
    * it cannot re-commit its postings (which would double those docs'
    * term frequencies). */
  private def textIndexRows(live: Map[String, Seq[String]])
      : Seq[(String, String)] =
    Seq("seg", "tomb", "folded").flatMap(k => live(k).map((k, _)))

  private def writeTextIndexDelta(delta: DataFrame, path: String,
      ingest: String, mode: SaveMode): Unit = {
    Retrieval.postingsFrom(delta)
      .withColumn("bucket", termBucket(col("term")))
      .write.partitionBy("bucket")
      .mode(mode).parquet(s"$path/postings/ingest=$ingest")
    // meta carries the BM25 length statistics alongside the doc count:
    // n_docs and the token-length SUM (not the average — sums merge
    // across ingest directories, averages don't)
    delta.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(size(graft.functions.TextFunctions
          .tokens(col("text"))).cast("long")), lit(0L)).as("sum_dl"))
      .write.mode(mode).parquet(s"$path/meta/ingest=$ingest")
    // per-document token lengths, doc-sharded like the postings — the
    // BM25 length normalizer joins these against the scored docs (doc-
    // keyed, never corpus text)
    delta.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("dl"),
        pmod(col("doc_id"), lit(8)).cast("int").as("shard"))
      .write.partitionBy("shard")
      .mode(mode).parquet(s"$path/doclens/ingest=$ingest")
  }

  /** One micro-batch of the streaming ingest: the batch's postings land
    * in their own `ingest=b<batchId>` directory with OVERWRITE semantics,
    * so a replayed batch (foreachBatch's at-least-once contract after a
    * failure) rewrites the same directory instead of duplicating postings
    * — idempotence by layout, no transaction log needed.
    */
  private[graft] def appendTextIndexBatch(batch: DataFrame, path: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val dir = s"$path/manifest"
    val token = s"b$batchId"
    val rows = // the stream's first batch meets a never-committed store
      if (StoreVersioning.latestVersion(spark, dir) == 0) Seq.empty
      else textIndexRows(StoreVersioning.liveTokens(spark, dir))
    // replay guard against the FOLDED ledger, not segment liveness: a
    // compaction can absorb b<id> into c<v> before the stream
    // checkpoints the batch, and a liveness check would then re-commit
    // the replayed segment NEXT TO the compacted copy, doubling those
    // docs' term frequencies. The ledger remembers every folded token
    // forever, so the replay is a complete no-op (no write either).
    if (rows.contains(("folded", token))) return
    writeTextIndexDelta(batch, path, token, SaveMode.Overwrite)
    StoreVersioning.commitTokens(spark, dir,
      rows :+ ("seg", token) :+ ("folded", token))
  }

  /** The streaming ingest twin of [[appendToTextIndex]] — routes each
    * arriving micro-batch of (doc_id, text) documents into the persisted
    * index as a delta postings append (the production "index keeps up
    * with the crawl" path). Inside the batch the work is the identical
    * document-sharded (term, shard) aggregation as the batch builder, so
    * stream-built shards equal batch-built shards row-for-row
    * (StreamingTextIndexSpec); across batches a term accumulates rows
    * that [[searchTextIndex]] re-merges by summation. Start the returned
    * writer with `.start()`.
    */
  def textIndexIngestStream(docs: DataFrame, path: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendTextIndexBatch(batch.toDF(), path, id)
      }

  /** Logical DELETE from the text index: the doc ids land in an
    * append-only `tombstones/` set and every search anti-joins them out
    * — old posting files are never rewritten (the LSM delete). Term df /
    * corpus N / avgdl stay at their stored values until
    * [[compactTextIndex]] physically drops the rows and recomputes the
    * stats — the standard deletes-are-logical-until-compaction contract,
    * stated rather than hidden.
    */
  def deleteFromTextIndex(spark: SparkSession, ids: DataFrame,
      path: String): Unit = {
    val dir = s"$path/manifest"
    val rows = textIndexRows(StoreVersioning.liveTokens(spark, dir))
    val token = s"t${StoreVersioning.latestVersion(spark, dir) + 1}"
    ids.select(col("doc_id"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$path/tombstones/ingest=$token")
    StoreVersioning.commitTokens(spark, dir, rows :+ ("tomb", token))
  }

  /** Anti-join `df` (must carry doc_id) against the pinned version's
    * tombstone segments, if any — the read-side half of the delete
    * contract. The tombstone frame is delete-sized; the join is
    * doc-keyed.
    */
  private def liveOnly(spark: SparkSession, path: String,
      df: DataFrame, tombs: Seq[String]): DataFrame =
    if (tombs.isEmpty) df
    else df.join(
      StoreVersioning.segments(spark, path, "tombstones", tombs)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Compact an appended/stream-grown index into a fresh single-ingest
    * layout at `dst`: a term's accumulated (term, shard) delta rows
    * merge into one row (exploded, regrouped, doc_id-resorted — the
    * reader's summation semantics applied ONCE at rest), meta collapses
    * to one summed row, doclens rewrite without their ingest levels.
    * The LSM discipline for the postings store: appends stay cheap
    * (never rewrite old files), reads re-merge, and compaction runs
    * off-peak to restore the read-optimal shape. Search answers are
    * IDENTICAL before and after (spec-proven) — compaction moves rows,
    * never values — EXCEPT where tombstones apply: logically deleted
    * docs are physically dropped here and the stats (df per term, N,
    * sum_dl) recomputed from the survivors, so the compacted index
    * answers exactly like a fresh build on the remaining corpus
    * (spec-proven too). Writing to a fresh `dst` keeps the swap atomic
    * at the path level (prod flips a pointer/view, old index stays
    * readable throughout).
    */
  def compactTextIndex(spark: SparkSession, src: String,
      dst: String): Unit = {
    writeCompacted(spark, src, dst, "base")
    // carry the SOURCE store's folded ledger: a stream redirected to the
    // compacted store must still see its already-folded batch tokens
    StoreVersioning.commitTokens(spark, s"$dst/manifest",
      ("seg", "base") +: StoreVersioning.liveTokens(spark, s"$src/manifest")(
        "folded").map(("folded", _)))
  }

  /** In-place compaction under the version discipline: the merged
    * segment lands as a NEW `ingest=c<v>` token in the SAME store and
    * the next manifest version references only it — a reader pinned to
    * the pre-compaction version keeps its segments untouched (the
    * writers-don't-block-readers contract; [[gcTextIndexSegments]] is
    * the later retention pass).
    */
  def compactTextIndexInPlace(spark: SparkSession, path: String): Unit = {
    val token =
      s"c${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeCompacted(spark, path, path, token)
    // the folded ledger SURVIVES compaction — forgetting it would let a
    // late replay of an absorbed batch double its postings
    val dir = s"$path/manifest"
    StoreVersioning.commitTokens(spark, dir, ("seg", token) +:
      StoreVersioning.liveTokens(spark, dir)("folded").map(("folded", _)))
  }

  /** Drop segment directories referenced by NO surviving manifest
    * version — run after [[StoreVersioning.pruneVersions]] on
    * `path`/manifest. */
  def gcTextIndexSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("text"))

  private def writeCompacted(spark: SparkSession, src: String,
      dst: String, token: String): Unit = {
    val live = StoreVersioning.liveTokens(spark, s"$src/manifest")
    val merged = liveOnly(spark, src,
      StoreVersioning.segments(spark, src, "postings", live("seg"))
        .select(col("term"), col("shard"),
          explode(arrays_zip(col("doc_ids"), col("tfs"))).as("z"))
        .select(col("term"), col("shard"),
          col("z.doc_ids").as("doc_id"), col("z.tfs").as("tf")),
      live("tomb"))
      .groupBy(col("term"), col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tf")).cast("long").as("n_occ"),
        sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .select(col("term"), col("shard"), col("n_docs"), col("n_occ"),
        transform(col("p"), x => x.getField("doc_id")).as("doc_ids"),
        transform(col("p"), x => x.getField("tf")).as("tfs"))
      .withColumn("bucket", termBucket(col("term")))
      // materialize before (possibly) rewriting inside the tree read from
      .transform(Fence)
    merged.write.partitionBy("bucket")
      .mode(SaveMode.Overwrite).parquet(s"$dst/postings/ingest=$token")
    // doclens drop tombstoned docs; meta is RECOMPUTED from the live
    // doclens (not summed from src meta) so N/avgdl shed the logically
    // deleted docs exactly — the compacted index equals a fresh build on
    // the surviving corpus (spec-proven)
    val liveDl = liveOnly(spark, src,
      StoreVersioning.segments(spark, src, "doclens", live("seg"))
        .select(col("doc_id"), col("dl"), col("shard")),
      live("tomb"))
      .transform(Fence)
    liveDl.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("sum_dl"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/meta/ingest=$token")
    liveDl.write.partitionBy("shard")
      .mode(SaveMode.Overwrite).parquet(s"$dst/doclens/ingest=$token")
  }

  /** BM25 top-k over the persisted index — the [[Retrieval.bm25TopKFrom]]
    * contract (same columns, same scores, same k1/b constants) with every
    * corpus touch replaced by index artifacts: postings give tf/df
    * (bucket-pruned + term-filtered scan), `doclens/` gives the length
    * normalizer via a doc-keyed join (doc-sized, text-free), and N/avgdl
    * come from the summed `meta/` rows — `sum_dl` is persisted as a SUM
    * precisely so appends merge exactly (integer-valued double sums are
    * order-exact, so avgdl equals the batch `avg` bit-for-bit).
    */
  def searchTextIndexBm25(spark: SparkSession, path: String,
      terms: Seq[String], k: Int = 10, version: Long = -1L): DataFrame = {
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest", version)
    val (segs, tombs) = (live("seg"), live("tomb"))
    val m = StoreVersioning.segments(spark, path, "meta", segs)
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head
    val n = m.getLong(0)
    val avgdl = m.getLong(1).toDouble / n
    require(terms.nonEmpty, "search needs at least one query term")
    val bucketPred = terms.map(t => col("bucket") === termBucket(lit(t)))
      .reduce(_ || _)
    val postings = StoreVersioning.segments(spark, path, "postings", segs)
      .filter(bucketPred && col("term").isin(terms: _*))
    val tf = postings
      .select(col("term"),
        explode(arrays_zip(col("doc_ids"), col("tfs"))).as("e"))
      .select(col("term"), col("e.doc_ids").as("doc_id"),
        col("e.tfs").as("tf"))
    val tfLive = liveOnly(spark, path, tf, tombs)
    val dfTerm = postings.groupBy(col("term"))
      .agg(sum(col("n_docs")).as("df"))
    val doclens = StoreVersioning.segments(spark, path, "doclens", segs)
      .select(col("doc_id"), col("dl"))
    // the ONE shared scoring formula (Retrieval.bm25Weight) with the
    // index's summed statistics riding as literal columns — constant
    // folding makes this the exact expression the hand-rolled copy
    // built, so bm25_store's scores are unchanged
    tfLive.join(broadcast(dfTerm), "term")
      .join(doclens, "doc_id")
      .withColumn("n_corpus", lit(n.toDouble))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("w", Retrieval.bm25Weight)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Batched BM25 over the persisted index: top-`k` per query of a
    * (query_id, term) query table in ONE index probe — the
    * [[Retrieval.indexTopKBatchFrom]] discipline with the corpus side
    * replaced by index artifacts. The term panel is driver-small by
    * nature (it IS the query batch): its distinct terms fold into the
    * constant bucket predicate, the query↔term mapping broadcasts, and
    * the per-query ranking is the two-phase (query, shard) → query
    * window pair so no partition is corpus-sized.
    */
  def searchTextIndexBm25Batch(spark: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val panel = queries.select(col("query_id"), col("term"))
    val terms = panel.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (terms.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id LONG, rank LONG, doc_id LONG, n_terms_hit LONG, score DOUBLE"))
    }
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest", version)
    val (segs, tombs) = (live("seg"), live("tomb"))
    val m = StoreVersioning.segments(spark, path, "meta", segs)
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .head
    val n = m.getLong(0)
    val avgdl = m.getLong(1).toDouble / n
    require(terms.nonEmpty, "search needs at least one query term")
    val bucketPred = terms.map(t => col("bucket") === termBucket(lit(t)))
      .reduce(_ || _)
    val postings = StoreVersioning.segments(spark, path, "postings", segs)
      .filter(bucketPred && col("term").isin(terms: _*))
    val tf = postings
      .select(col("term"),
        explode(arrays_zip(col("doc_ids"), col("tfs"))).as("e"))
      .select(col("term"), col("e.doc_ids").as("doc_id"),
        col("e.tfs").as("tf"))
    val tfLive = liveOnly(spark, path, tf, tombs)
    val dfTerm = postings.groupBy(col("term"))
      .agg(sum(col("n_docs")).as("df"))
    val doclens = StoreVersioning.segments(spark, path, "doclens", segs)
      .select(col("doc_id"), col("dl"))
    // the ONE shared scoring formula, statistics as literal columns
    // (see searchTextIndexBm25) — scores unchanged
    val scored = tfLive.join(broadcast(dfTerm), "term")
      .join(broadcast(panel), "term")
      .join(doclens, "doc_id")
      .withColumn("n_corpus", lit(n.toDouble))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("w", Retrieval.bm25Weight)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
    val byScore = Seq(col("score").desc, col("doc_id"))
    val shardW = Window
      .partitionBy(col("query_id"), pmod(col("doc_id"), lit(8)))
      .orderBy(byScore: _*)
    val queryW = Window.partitionBy(col("query_id")).orderBy(byScore: _*)
    scored
      .withColumn("srk", row_number().over(shardW))
      .filter(col("srk") <= k)
      .withColumn("rank", row_number().over(queryW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"), col("score"))
  }

  /** Streaming query probe: each arriving micro-batch of (query_id, term)
    * rows scores against the persisted index via
    * [[searchTextIndexBm25Batch]] and appends its results under its own
    * `batch=b<id>` directory (OVERWRITE per batch — idempotent under
    * foreachBatch replay, the [[textIndexIngestStream]] layout
    * discipline). The RAG serving shape: queries stream in, the index
    * stays put, every batch is one bucket-pruned probe.
    */
  def bm25QueryStream(queries: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, k: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          searchTextIndexBm25Batch(batch.sparkSession, indexPath,
            batch.toDF(), k)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$outPath/batch=b$id")
      }

  /** TF-IDF top-k over the persisted index — the
    * [[Retrieval.indexTopKFrom]] contract (same columns, same scores)
    * with the corpus side replaced by the index: the postings scan is
    * bucket-pruned + term-filtered (query terms only), df re-merges the
    * appended rows per term (tiny, broadcast), and the IDF normalizer is
    * the summed `meta/` count — one driver-read row, no corpus scan
    * anywhere in the plan (asserted by PersistedIndexSpec).
    */
  def searchTextIndex(spark: SparkSession, path: String,
      terms: Seq[String], k: Int = 10, version: Long = -1L): DataFrame = {
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest", version)
    val (segs, tombs) = (live("seg"), live("tomb"))
    val n = StoreVersioning.segments(spark, path, "meta", segs)
      .agg(sum(col("n_docs"))).head.getLong(0)
    require(terms.nonEmpty, "search needs at least one query term")
    val bucketPred = terms.map(t => col("bucket") === termBucket(lit(t)))
      .reduce(_ || _)
    val postings = StoreVersioning.segments(spark, path, "postings", segs)
      .filter(bucketPred && col("term").isin(terms: _*))
    val tf = postings
      .select(col("term"),
        explode(arrays_zip(col("doc_ids"), col("tfs"))).as("e"))
      .select(col("term"), col("e.doc_ids").as("doc_id"),
        col("e.tfs").as("tf"))
    val tfLive = liveOnly(spark, path, tf, tombs)
    val dfTerm = postings.groupBy(col("term"))
      .agg(sum(col("n_docs")).as("df"))
    tfLive.join(broadcast(dfTerm), "term")
      .withColumn("w", col("tf").cast("double") *
        log(lit(n.toDouble) / col("df")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The text index as a driver surface: build on the even ids, fold the
    * odd ids in with [[appendToTextIndex]] (immutable segments + a new
    * manifest version), search — must equal [[Retrieval.bm25TopK]] over
    * the whole corpus (the driver's `bm25_store` query runs THIS against
    * the bm25_topk oracle), proving build + append + segment-merged
    * search. Cached per (app, sfDir) — the build-once/probe-many shape.
    */
  def bm25FromSessionStore(spark: SparkSession, sfDir: String): DataFrame =
    searchTextIndexBm25(spark, sessionTextIndex(spark, sfDir),
      Retrieval.QueryTerms)

  /** The cached session text index's path — shared with the ranker
    * scorecard ([[RankerEval]]), which grades the SAME persisted index
    * the `bm25_store` query serves. */
  private[operators] def sessionTextIndex(spark: SparkSession,
      sfDir: String): String =
    SessionCache.directory(spark, "graft-text-store", sfDir) { p =>
      val corpus = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      buildTextIndex(spark, corpus.filter(col("doc_id") % 2 === 0), p)
      appendToTextIndex(spark, corpus.filter(col("doc_id") % 2 === 1), p)
    }

  // ------------------------------------------------ persisted kNN graph --

  /** Build the persisted kNN-graph store at `path` — the durable form of
    * [[SimilarityPipeline.knnGraph]]'s session artifact:
    * `centroids/` the FROZEN k-row model (new data is assigned, never
    * re-trained — the [[buildIvfIndex]] maintenance contract),
    * `nodes/seg=<t>/cluster=c/` (vec_id, v) and
    * `edges/seg=<t>/cluster=c/` (vec_id, rank, nbr_id, sim) — immutable
    * SEGMENTS partitioned by cluster, with `manifest/version=N/`
    * ([[StoreVersioning]]) mapping each cluster to the segment holding
    * its current edges. Maintenance and probes touch only the cluster
    * directories they name; folds write new segments and remap, never
    * rewriting a file, so readers pinned to a version are never torn.
    */
  def buildKnnGraphStore(spark: SparkSession, vectors: DataFrame,
      path: String, k: Int = 8, iters: Int = 2): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val e = vectors.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val (cents, assigned) = SimilarityPipeline.kmeansModelFrom(e, k, iters)
    val nodes = assigned.select(col("vec_id"), col("cluster"), col("v"))
      .transform(Fence)
    graft.sources.CorpusWriter.writePartitioned(nodes,
      s"$path/nodes/seg=base", Seq("cluster"), "vec_id")
    val edges = nodes.as("n")
      .join(SimilarityPipeline.knnEdgesFrom(nodes).as("g"), Seq("vec_id"))
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("sim"),
        col("cluster"))
    graft.sources.CorpusWriter.writePartitioned(edges,
      s"$path/edges/seg=base", Seq("cluster"), "vec_id")
    cents.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val clusters = nodes.select(col("cluster").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq // bounded: <= k
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      knnRows(Seq("base"), clusters.map(_ -> "base").toMap))
  }

  /** Manifest rows: ("nodes", token) per live node segment, and
    * ("edges", "<cluster>:<token>") mapping each cluster to the segment
    * holding its CURRENT edge rows — the Iceberg-style file-pointer
    * trick on plain parquet that makes folds purely ADDITIVE: a fold
    * writes new segments and remaps touched clusters; no old file is
    * ever rewritten, so readers pinned to the previous version are
    * untouched. [[knnEdges]] decodes the pointers. */
  private def knnRows(nodeSegs: Seq[String],
      edgeMap: Map[Long, String]): Seq[(String, String)] =
    nodeSegs.map(("nodes", _)) ++
      edgeMap.toSeq.sorted.map { case (c, t) => ("edges", s"$c:$t") }

  /** cluster → edge segment of a pinned version's manifest. */
  private def knnEdges(live: Map[String, Seq[String]]): Map[Long, String] =
    live("edges").map { e =>
      val (c, t) = e.splitAt(e.indexOf(':'))
      c.toLong -> t.tail
    }.toMap

  /** Fold a batch of new vectors into the store: assign to the FROZEN
    * centroids, drop ids the store already holds (idempotence — a
    * replayed batch finds all its ids present and becomes a no-op),
    * append the survivors to their `nodes/` cluster directories, and
    * rewrite `edges/` ONLY for the touched clusters (copy-on-write at
    * cluster-partition granularity, the [[CurationStore.forgetDocs]]
    * discipline). Equals the from-scratch graph over the union under
    * the same frozen centroids row-for-row — PersistedKnnGraphSpec's
    * contract, the [[SimilarityPipeline.knnGraphDelta]] math made
    * durable.
    *
    * Scale: the batch assignment is batch-sized; the dedup probe and
    * edge rebuild scan only the touched clusters' directories (DPP);
    * untouched cluster files are not rewritten. Re-centering drift is
    * the same documented trade as [[appendToIvfIndex]].
    */
  def appendToKnnGraphStore(spark: SparkSession, batch: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")
    val (nodeSegs, edgeMap) = (live("nodes"), knnEdges(live))
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = SimilarityPipeline.assignToCentroids(
        batch.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v")),
        cents)
      .select(col("vec_id"), col("cluster"), col("v"))
      // a batch carrying the same vec_id twice must land ONE node row —
      // the store's one-row-per-vector read contract (the stored-id
      // anti-join below only guards against ids already persisted)
      .dropDuplicates("vec_id")
    val touchedAll = assigned.select("cluster").distinct() // <= k rows
    // partition-column inference reads `cluster` back as int — normalize
    // to the assignment's long before the union
    val storedAssigned = StoreVersioning // the PINNED snapshot
      .segments(spark, path, "nodes", nodeSegs, "seg")
      .withColumn("cluster", col("cluster").cast("long"))
      .join(broadcast(touchedAll), Seq("cluster")) // DPP prunes the rest
      .select(col("vec_id"), col("cluster"), col("v"))
      .transform(Fence)
    val fresh = assigned.join(
        storedAssigned.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return // full replay — nothing to fold
    // rebuild ONLY clusters that gained a FRESH node: a partially
    // replayed batch lists its already-stored ids' clusters in
    // touchedAll, and rebuilding those would rewrite identical edge
    // rows into the new segment — pure wasted shuffle and storage
    val touched = fresh.select("cluster").distinct()
    val storedTouched = storedAssigned
      .join(broadcast(touched), Seq("cluster"))
    val members = storedTouched.unionByName(fresh).transform(Fence)
    val newEdges = members.as("n")
      .join(SimilarityPipeline.knnEdgesFrom(members).as("g"), Seq("vec_id"))
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("sim"),
        col("cluster"))
    // the fold is purely ADDITIVE: fresh nodes and the touched clusters'
    // rebuilt edges land in their own immutable segment; the manifest
    // remaps ONLY the touched clusters to it. No old file is rewritten —
    // a reader pinned to the previous version is untouched (spec-proven)
    val token =
      s"f${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    graft.sources.CorpusWriter.writePartitioned(fresh,
      s"$path/nodes/seg=$token", Seq("cluster"), "vec_id")
    graft.sources.CorpusWriter.writePartitioned(newEdges,
      s"$path/edges/seg=$token", Seq("cluster"), "vec_id")
    val parts = touched.collect().map(_.getLong(0)) // bounded: <= k
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      knnRows(nodeSegs :+ token, edgeMap ++ parts.map(_ -> token)))
  }

  /** The stored graph at `version` (latest when -1), read back in
    * [[SimilarityPipeline.knnGraph]]'s column contract: the manifest's
    * cluster→segment map prunes the scan to each cluster's CURRENT
    * segment directory (one (seg, cluster-set) predicate per live
    * segment — segments are few, clusters <= k).
    */
  def readKnnGraphStore(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val edgeMap =
      knnEdges(StoreVersioning.liveTokens(spark, s"$path/manifest", version))
    val bySeg = edgeMap.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    // an empty edge map (store built from an empty frame) must read as
    // an empty graph, not crash reduce on an empty predicate list
    val pred = bySeg.toSeq.sortBy(_._1).map { case (t, cs) =>
        col("seg") === t && col("cluster").isInCollection(cs)
      }.reduceOption(_ || _).getOrElse(lit(false))
    spark.read.parquet(s"$path/edges")
      .filter(pred)
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("sim"))
      .orderBy("vec_id", "rank")
  }

  /** Drop node/edge segments referenced by NO surviving manifest version
    * — run after [[StoreVersioning.pruneVersions]] on `path`/manifest. */
  def gcKnnGraphSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("knn"))

  /** The store as a driver surface: build on the non-delta residue
    * (vec_id % 100 <> 7 — [[SimilarityPipeline.knnGraphDelta]]'s split),
    * fold the delta residue in with [[appendToKnnGraphStore]], read the
    * edges back — must equal the from-scratch graph over everything
    * under the base-trained frozen centroids (the driver oracle performs
    * that recompute). Cached per (app, sfDir).
    */
  def knnGraphFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-knn-store", sfDir) { p =>
      val e = graft.sources.Tables.embeddings(spark, sfDir)
      val isDelta = pmod(col("vec_id"), lit(100)) === 7
      buildKnnGraphStore(spark, e.filter(!isDelta), p)
      appendToKnnGraphStore(spark, e.filter(isDelta), p)
    }
    readKnnGraphStore(spark, path)
  }

  /** The streaming ingest twin — each arriving micro-batch of vectors
    * folds into the persisted graph through the SAME delta logic as the
    * batch [[appendToKnnGraphStore]] (foreachBatch's at-least-once
    * replays are absorbed by the id dedup). Start with `.start()`.
    */
  def knnGraphIngestStream(vecs: DataFrame, path: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendToKnnGraphStore(batch.sparkSession, batch.toDF(), path)
      }

  // -------------------------------------------- persisted LSH index --

  /** Vector shard count for the LSH store's scoring side (the doclens
    * discipline: candidate joins are id-keyed, never bucket-wide). */
  private val LshVecShards = 8
  private val LshTopK = 10

  /** Build the persisted LSH index at `path` — the build-once/probe-many
    * form of [[SimilarityPipeline.simTopKLsh]] (IVF has
    * [[buildIvfIndex]]; this is the random-projection twin):
    *
    *  - `normals/` — the FROZEN 16 hyperplane rows (the
    *    [[buildKnnGraphStore]] centroid discipline: new data is signed,
    *    the model never retrains);
    *  - `buckets/ingest=<t>/band=B/pfx=P/` — (vec_id, bval) signature
    *    rows, hive-partitioned by band and the bval prefix bucket, so a
    *    query's probe PRUNES to its own (band, pfx) directories at the
    *    file listing (the [[buildTextIndex]] term-hash-bucket
    *    discipline; with 4-bit bands the prefix is the whole bval, i.e.
    *    probes read exactly their buckets);
    *  - `vectors/ingest=<t>/shard=S/` — (vec_id, label, embedding) for
    *    candidate scoring, id-sharded;
    *  - `manifest/version=N/` — the live ingest tokens
    *    ([[StoreVersioning]]): segments are IMMUTABLE once written, a
    *    fold publishes a new version, pinned readers are never torn.
    */
  def buildLshIndex(spark: SparkSession, vectors: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    vectors.filter(col("vec_id") < 16)
      .select(col("vec_id").as("h_idx"), col("embedding").as("h"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/normals")
    writeLshSegment(spark, vectors, path, "base")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  private def lshNormals(spark: SparkSession, path: String): DataFrame =
    SimilarityPipeline.lshNormalsBundle(spark.read.parquet(s"$path/normals"))

  private def writeLshSegment(spark: SparkSession, vectors: DataFrame,
      path: String, token: String): Unit = {
    val sigs = SimilarityPipeline.lshSignatures(vectors,
        lshNormals(spark, path))
      .withColumn("pfx", pmod(col("bval"), lit(16L)))
    sigs.repartition(col("band"), col("pfx"))
      .write.mode(SaveMode.Overwrite).partitionBy("band", "pfx")
      .parquet(s"$path/buckets/ingest=$token")
    vectors.select(col("vec_id"), col("label"), col("embedding"),
        pmod(col("vec_id"), lit(LshVecShards.toLong)).as("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(s"$path/vectors/ingest=$token")
  }

  /** Fold a batch of new vectors in: sign against the FROZEN normals,
    * drop ids the live segments already hold (a replayed batch becomes a
    * no-op — the [[appendToKnnGraphStore]] idempotence contract), land
    * the survivors in their own immutable `ingest=<token>` segment, and
    * publish a new manifest version. A reader pinned to the old version
    * never sees the new segment; old segment files are never touched.
    */
  def appendToLshIndex(spark: SparkSession, batch: DataFrame,
      path: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val live = StoreVersioning.liveTokens(spark, s"$path/manifest")("seg")
    val storedIds = StoreVersioning.segments(spark, path, "vectors", live)
      .select(col("vec_id"))
    val fresh = batch
      .select(col("vec_id"), col("label"), col("embedding"))
      .dropDuplicates("vec_id") // one node row per vector, batch-internal too
      .join(storedIds, Seq("vec_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return // full replay — nothing to fold
    val token = s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeLshSegment(spark, fresh, path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** The streaming ingest twin — each arriving micro-batch folds through
    * the same segment + manifest discipline (at-least-once replays are
    * absorbed by the stored-id dedup). Start with `.start()`. */
  def lshIndexIngestStream(vecs: DataFrame, path: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendToLshIndex(batch.sparkSession, batch.toDF(), path)
      }

  /** Compact a delta-grown index: fold every live segment into ONE new
    * `ingest=c<v>` segment and publish it as the next manifest version —
    * readers pinned to the old version keep their segments (nothing is
    * deleted here; [[gcLshSegments]] is the retention pass that drops
    * segments no surviving version references).
    */
  def compactLshIndex(spark: SparkSession, path: String): Unit = {
    val all = StoreVersioning.segments(spark, path, "vectors",
        StoreVersioning.liveTokens(spark, s"$path/manifest")("seg"))
      .select(col("vec_id"), col("label"), col("embedding"))
      .transform(Fence)
    val token = s"c${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeLshSegment(spark, all, path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", token)))
  }

  /** Drop segments referenced by NO surviving manifest version — run
    * after [[StoreVersioning.pruneVersions]] on `path`/manifest. */
  def gcLshSegments(spark: SparkSession, path: String): Unit =
    StoreVersioning.gcLayout(spark, path, storeLayout("lsh"))

  /** Probe the persisted index with the stored query vector `qId`:
    * sign the query against the frozen normals (4 rows), collect its
    * (band, pfx, bval) buckets driver-side (bounded: 4), and scan ONLY
    * those bucket directories — the (band, pfx) literals reach the
    * scan's PartitionFilters (plan-asserted in PersistedIndexSpec), so
    * the probe lists 4 of the 64 bucket directories per segment.
    * Candidates are cosine-scored against the id-sharded vectors and
    * TakeOrdered'd; `in_exact` audits each hit against the brute-force
    * top-k over the SAME pinned version. Output contract =
    * [[SimilarityPipeline.simTopKLsh]] row-for-row when the store holds
    * the same corpus (the driver's `lsh_store` oracle).
    *
    * `audit = false` is the SERVING shape (round 14): the corpus-linear
    * brute-force audit scan is skipped entirely — the plan's only
    * corpus-sized vectors read is the candidate verify — and the
    * `in_exact` column is omitted. The audited shape is recall
    * telemetry for a 0.2–0.5-recall index (the driver queries' declared
    * purpose); a production probe-per-request runs audit-free.
    */
  def probeLshIndex(spark: SparkSession, path: String, qId: Long = 0L,
      k: Int = LshTopK, version: Long = -1L,
      audit: Boolean = true): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val vectors = StoreVersioning.segments(spark, path, "vectors", live)
    val q = vectors.filter(col("vec_id") === qId)
      .select(col("embedding").as("q"))
    val qBuckets = SimilarityPipeline.lshSignatures(
        vectors.filter(col("vec_id") === qId), lshNormals(spark, path))
      .withColumn("pfx", pmod(col("bval"), lit(16L)))
      .select(col("band").cast("long"), col("pfx").cast("long"),
        col("bval").cast("long"))
      .collect() // bounded: one row per band (4)
    // fail fast with a nameable error, not reduce's
    // UnsupportedOperationException on the empty predicate list
    require(qBuckets.nonEmpty,
      s"query vec_id=$qId is not in the pinned version of the LSH " +
        s"store at $path (absent id, or pruned segment)")
    val bucketPred = qBuckets.map { r =>
        col("band") === r.getLong(0) && col("pfx") === r.getLong(1) &&
          col("bval") === r.getLong(2)
      }.reduce(_ || _)
    val candIds = StoreVersioning.segments(spark, path, "buckets", live)
      .filter(bucketPred)
      .filter(col("vec_id") =!= qId)
      .select(col("vec_id")).distinct()
    val ranked = vectors.join(candIds, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      // post-limit window: <= k rows (the simTopK note)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))
          .cast("long"))
    if (!audit)
      return ranked
        .select(col("rank"), col("vec_id"), col("label"),
          round(col("cos"), 4).as("sim"))
        .orderBy("rank")
    val exactIds = vectors.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("exact_id"), lit(true).as("in_ex"))
    ranked
      .join(broadcast(exactIds), col("vec_id") === col("exact_id"), "left")
      .select(col("rank"), col("vec_id"), col("label"),
        round(col("cos"), 4).as("sim"),
        coalesce(col("in_ex"), lit(false)).as("in_exact"))
      .orderBy("rank")
  }

  /** Filtered LSH probe — the [[probeIvfIndexFiltered]] workload through
    * the bucket index: candidates still come from the query's 4 of 64
    * bucket directories (the partition-pruned listing is untouched —
    * the filter cannot shrink it further, signatures carry no
    * metadata), and the metadata predicate lands in the candidate
    * VERIFICATION scan's PushedFilters, so only matching candidates are
    * cosine-scored and ranked. Selectivity compensation is structural
    * here: the bucket candidate pool is unlimited (no stage-1 fetch cap
    * to starve), so a selective filter thins the verify join, never the
    * recall set — what a band collision surfaced stays surfaced.
    * `in_exact` audits each hit against the FILTERED brute-force top-k
    * over the same pinned version (the recall surface FilteredAnnSpec
    * floors). `audit = false` is the serving shape — no brute-force
    * scan, no `in_exact` column (the [[probeLshIndex]] seam).
    */
  def probeLshIndexFiltered(spark: SparkSession, path: String,
      filterLabel: Int, qId: Long = 0L, k: Int = LshTopK,
      version: Long = -1L, audit: Boolean = true): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val vectors = StoreVersioning.segments(spark, path, "vectors", live)
    val q = vectors.filter(col("vec_id") === qId)
      .select(col("embedding").as("q"))
    val qBuckets = SimilarityPipeline.lshSignatures(
        vectors.filter(col("vec_id") === qId), lshNormals(spark, path))
      .withColumn("pfx", pmod(col("bval"), lit(16L)))
      .select(col("band").cast("long"), col("pfx").cast("long"),
        col("bval").cast("long"))
      .collect() // bounded: one row per band (4)
    require(qBuckets.nonEmpty,
      s"query vec_id=$qId is not in the pinned version of the LSH " +
        s"store at $path (absent id, or pruned segment)")
    val bucketPred = qBuckets.map { r =>
        col("band") === r.getLong(0) && col("pfx") === r.getLong(1) &&
          col("bval") === r.getLong(2)
      }.reduce(_ || _)
    val candIds = StoreVersioning.segments(spark, path, "buckets", live)
      .filter(bucketPred)
      .filter(col("vec_id") =!= qId)
      .select(col("vec_id")).distinct()
    val matching = vectors
      .filter(col("label") === filterLabel) // → parquet PushedFilters
      .filter(col("vec_id") =!= qId)
    val ranked = matching.join(candIds, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      // post-limit window: <= k rows (the simTopK note)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))
          .cast("long"))
    if (!audit)
      return ranked
        .select(col("rank"), col("vec_id"), col("label"),
          round(col("cos"), 4).as("sim"))
        .orderBy("rank")
    val exactIds = matching
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosine(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("exact_id"), lit(true).as("in_ex"))
    ranked
      .join(broadcast(exactIds), col("vec_id") === col("exact_id"), "left")
      .select(col("rank"), col("vec_id"), col("label"),
        round(col("cos"), 4).as("sim"),
        coalesce(col("in_ex"), lit(false)).as("in_exact"))
      .orderBy("rank")
  }

  /** Filtered-probe driver surface over the session store — answers the
    * lsh_store_filtered recompute oracle. */
  def lshFilteredFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeLshIndexFiltered(spark, sessionLshStore(spark, sfDir),
      FilteredAnnLabel)

  /** Batched probe over the persisted index —
    * [[SimilarityPipeline.simTopKLshBatch]]'s join shape with the corpus
    * side replaced by store artifacts: the `nQueries` query vectors'
    * signatures are recomputed against the frozen normals (query-sized),
    * their band rows broadcast against the live bucket segments (each
    * query meets only its buckets' members), and only candidates are
    * scored and per-query ranked; `in_exact` audits against the
    * per-query brute force over the same pinned version. With 10⁶
    * queries the same plan shuffles both sides on (band, bval) — no
    * per-query pass anywhere.
    */
  def probeLshIndexBatch(spark: SparkSession, path: String,
      nQueries: Int = 8, k: Int = 5, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val vectors = StoreVersioning.segments(spark, path, "vectors", live)
    val qVecs = vectors.filter(col("vec_id") < nQueries)
    val qBands = SimilarityPipeline.lshSignatures(qVecs,
        lshNormals(spark, path))
      .select(col("vec_id").as("q_id"), col("band").as("qband"),
        col("bval").as("qval"))
    val cand = StoreVersioning.segments(spark, path, "buckets", live)
      .filter(col("vec_id") >= nQueries)
      .join(broadcast(qBands),
        col("band") === col("qband") && col("bval") === col("qval"))
      .select(col("q_id"), col("vec_id")).distinct()
    val queries = qVecs.select(col("vec_id").as("q_id"),
      col("embedding").as("q"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = vectors.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q")).as("cos"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("q_id"), col("vec_id"), lit(true).as("in_ex"))
    cand.join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("sim"),
        coalesce(col("in_ex"), lit(false)).as("in_exact"))
      .orderBy("q_id", "rank")
  }

  /** Streaming ANN serving: each arriving micro-batch of query vectors
    * (vec_id, label, embedding) probes the PERSISTED index via the
    * batched join shape and appends its top-k under its own
    * `batch=b<id>` directory (overwrite per batch — idempotent under
    * foreachBatch replay; the [[bm25QueryStream]] discipline applied to
    * vectors). Queries stream in, the index stays put, every batch is
    * one signature pass + bucket-pruned join.
    */
  def lshQueryStream(queries: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, k: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          probeLshBatchFrame(batch.sparkSession, indexPath, batch.toDF(), k)
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$outPath/batch=b$id")
      }

  /** [[probeLshIndexBatch]] for an ARBITRARY query frame (vec_id, label,
    * embedding) instead of store-resident ids — the serving-path probe:
    * queries are signed against the frozen normals, candidates come
    * from the live bucket segments (query ids do not mask corpus ids).
    */
  def probeLshBatchFrame(spark: SparkSession, path: String,
      queries: DataFrame, k: Int = 5, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val vectors = StoreVersioning.segments(spark, path, "vectors", live)
    val qVecs = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("q"))
    val qBands = SimilarityPipeline.lshSignatures(
        queries.select(col("vec_id"), col("embedding")),
        lshNormals(spark, path))
      .select(col("vec_id").as("q_id"), col("band").as("qband"),
        col("bval").as("qval"))
    // NO vec_id =!= q_id exclusion here: query ids come from an
    // EXTERNAL id space, so a coincidental collision with a corpus id
    // must not mask that (possibly top-1) corpus vector — the
    // store-resident panel probe (probeLshIndexBatch) is the one that
    // excludes self-matches
    val cand = StoreVersioning.segments(spark, path, "buckets", live)
      .join(broadcast(qBands),
        col("band") === col("qband") && col("bval") === col("qval"))
      .select(col("q_id"), col("vec_id")).distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qVecs), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** The store as a driver surface: build on the non-delta residue
    * (vec_id % 100 <> 77 — chosen so the 16 normal vectors and the
    * query vector stay in the base build), fold the delta residue in
    * with [[appendToLshIndex]], probe — must equal
    * [[SimilarityPipeline.simTopKLsh]] over the whole corpus (the
    * driver's oracle recomputes exactly that), proving
    * build + append + probe under frozen hyperplanes. Cached per
    * (app, sfDir).
    */
  private def sessionLshStore(spark: SparkSession, sfDir: String): String =
    SessionCache.directory(spark, "graft-lsh-store", sfDir) { p =>
      val e = graft.sources.Tables.embeddings(spark, sfDir)
      val isDelta = pmod(col("vec_id"), lit(100)) === 77
      buildLshIndex(spark, e.filter(!isDelta), p)
      appendToLshIndex(spark, e.filter(isDelta), p)
    }

  def lshTopKFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeLshIndex(spark, sessionLshStore(spark, sfDir))

  /** The BATCH probe as a driver surface over the same session store —
    * answers the sim_topk_lsh_batch recompute oracle, so the green hash
    * proves the store's batched join shape end-to-end. */
  def lshBatchFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeLshIndexBatch(spark, sessionLshStore(spark, sfDir))

  /** Batched-filtered driver surface over the session IVF+PQ store —
    * answers the per-query-range recompute oracle. */
  def ivfPqFilteredBatchFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeIvfPqIndexFilteredBatch(spark, sfDir,
      sessionIvfPqStore(spark, sfDir))

  /** The ONE per-query label recipe for the batched filtered LSH probe
    * — query `q` filters to label (q·[[LshLabelMul]] mod [[LshLabelMod]]).
    * [[lshBatchLabelOf]] (driver-side union prefilter), [[lshBatchLabel]]
    * (the per-row Column), and [[lshBatchLabelSql]] (the oracle replay)
    * ALL derive from these two constants, so changing the recipe in one
    * place moves all three together (round-15 ADVICE: an inline copy in
    * the union prefilter would silently stop covering the per-query
    * labels if the recipe drifted). */
  private val LshLabelMul = 3L
  private val LshLabelMod = 10L

  private[graft] def lshBatchLabelOf(q: Int): Int =
    ((q * LshLabelMul) % LshLabelMod).toInt

  private[graft] def lshBatchLabel(qId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(qId * LshLabelMul, lit(LshLabelMod)).cast("int")

  /** Batched AND filtered LSH probe — [[probeLshIndexBatch]] with a
    * per-query label predicate: the UNION of the panel's labels rides
    * the candidate-verify scan's PushedFilters (bucket-directory
    * pruning untouched — signatures carry no metadata), each query's
    * own equality is applied at the verify join, and `in_exact` audits
    * against the per-query FILTERED brute force. The honest 0.2–0.5
    * bucket-collision recall surface, per query per label.
    */
  def probeLshIndexFilteredBatch(spark: SparkSession, path: String,
      nQueries: Int = 8, k: Int = 5, version: Long = -1L): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("seg")
    val vectors = StoreVersioning.segments(spark, path, "vectors", live)
    val unionLabels = (0 until nQueries).map(lshBatchLabelOf).distinct
    val matching = vectors
      .filter(col("label").isInCollection(unionLabels)) // → PushedFilters
      .filter(col("vec_id") >= nQueries)
    val qVecs = vectors.filter(col("vec_id") < nQueries)
    val qBands = SimilarityPipeline.lshSignatures(qVecs,
        lshNormals(spark, path))
      .select(col("vec_id").as("q_id"), col("band").as("qband"),
        col("bval").as("qval"))
    val cand = StoreVersioning.segments(spark, path, "buckets", live)
      .filter(col("vec_id") >= nQueries)
      .join(broadcast(qBands),
        col("band") === col("qband") && col("bval") === col("qval"))
      .select(col("q_id"), col("vec_id")).distinct()
    val queries = qVecs.select(col("vec_id").as("q_id"),
      col("embedding").as("q"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = matching
      .crossJoin(broadcast(queries))
      .filter(col("label") === lshBatchLabel(col("q_id")))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q")).as("cos"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("q_id"), col("vec_id"), lit(true).as("in_ex"))
    cand
      .join(matching.select(col("vec_id"), col("label"), col("embedding")),
        "vec_id")
      .filter(col("label") === lshBatchLabel(col("q_id")))
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"), col("label"),
        cosine(col("embedding"), col("q")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        round(col("cos"), 4).as("sim"),
        coalesce(col("in_ex"), lit(false)).as("in_exact"))
      .orderBy("q_id", "rank")
  }

  /** Batched-filtered driver surface over the session LSH store —
    * answers the per-query-label recompute oracle. */
  def lshFilteredBatchFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeLshIndexFilteredBatch(spark, sessionLshStore(spark, sfDir))

  /** SQL form of [[lshBatchLabel]] — interpolates the SAME
    * [[LshLabelMul]]/[[LshLabelMod]] constants into the generated oracle,
    * so the Spark probe and the replay cannot drift (the
    * hardNegativesOracleSql rule). */
  private[graft] def lshBatchLabelSql(qid: String): String =
    s"($qid * $LshLabelMul) % $LshLabelMod"

  /** The DuckDB replay of [[probeLshIndexFilteredBatch]] — the
    * lsh_store_batch signature/bucket recompute with each query's label
    * predicate (from [[lshBatchLabelSql]]) applied to BOTH the verify
    * and the exact-audit side. */
  private[graft] def lshFilteredBatchOracleSql(nQueries: Int = 8,
      k: Int = 5): String =
    s"""WITH hyper AS (SELECT vec_id AS h_idx, embedding AS h FROM embeddings WHERE vec_id < 16),
bits AS (SELECT e.vec_id, CAST(h_idx // 4 AS INTEGER) AS band,
    CASE WHEN list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(h.h[i+1] AS DOUBLE))) > 0 THEN 1 ELSE 0 END
      * CAST(2 ** (h_idx % 4) AS INTEGER) AS bit
  FROM embeddings e, hyper h),
bv AS MATERIALIZED (SELECT vec_id, band, sum(bit) AS val FROM bits GROUP BY vec_id, band),
qb AS (SELECT vec_id AS q_id, band, val FROM bv WHERE vec_id < $nQueries),
cand AS (SELECT DISTINCT qb.q_id, b.vec_id FROM bv b
  JOIN qb ON b.band = qb.band AND b.val = qb.val WHERE b.vec_id >= $nQueries),
qv AS (SELECT vec_id AS q_id, embedding AS q FROM embeddings WHERE vec_id < $nQueries),
s AS (SELECT cand.q_id, e.vec_id, e.label,
  (list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(qv.q[i+1] AS DOUBLE))) / (sqrt(list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE)))) * sqrt(list_sum(list_transform(range(64), i -> CAST(qv.q[i+1] AS DOUBLE) * CAST(qv.q[i+1] AS DOUBLE)))))) AS c
  FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id JOIN qv ON cand.q_id = qv.q_id
  WHERE e.label = ${lshBatchLabelSql("cand.q_id")}),
ex AS (SELECT q_id, vec_id FROM (SELECT qv.q_id, e.vec_id,
    row_number() OVER (PARTITION BY qv.q_id ORDER BY (list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(qv.q[i+1] AS DOUBLE))) / (sqrt(list_sum(list_transform(range(64), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE)))) * sqrt(list_sum(list_transform(range(64), i -> CAST(qv.q[i+1] AS DOUBLE) * CAST(qv.q[i+1] AS DOUBLE)))))) DESC, e.vec_id) AS r
  FROM embeddings e, qv WHERE e.vec_id >= $nQueries AND e.label = ${lshBatchLabelSql("qv.q_id")}) WHERE r <= $k),
t AS (SELECT q_id, vec_id, label, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank FROM s)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, label, round(c, 4) AS sim,
  EXISTS(SELECT 1 FROM ex WHERE ex.q_id = t.q_id AND ex.vec_id = t.vec_id) AS in_exact
FROM t WHERE rank <= $k ORDER BY q_id, rank"""

  /** Every persisted store's segment layout, keyed by store kind — the
    * dispatch table behind [[retainStore]] (one retention policy across
    * all stores) and the per-store `gcXxxSegments` entry points, which
    * all delegate to [[StoreVersioning.gcLayout]] with these rows.
    * `curation` has no segment sub-stores: its versions ARE the data,
    * so retention is pure version pruning.
    */
  private[graft] def storeLayout(kind: String): StoreVersioning.StoreLayout = {
    import StoreVersioning.{StoreLayout, SubStore, kindTokens}
    def one(subDirs: Seq[String], kinds: String*) =
      StoreLayout(Seq(SubStore(subDirs, "ingest=", kindTokens(kinds: _*))))
    kind match {
      case "ivf" => one(Seq("vectors"), "seg")
      case "pq" => one(Seq("codes"), "seg")
      case "ivfpq" => one(Seq("codes"), "seg")
      case "lsh" => one(Seq("buckets", "vectors"), "seg")
      case "dedup" => one(Seq("digests", "bands", "sets"), "seg")
      case "shingle" => StoreLayout(Seq(
        SubStore(Seq("hashes"), "ingest=", kindTokens("seg")),
        SubStore(Seq("bloom"), "token=", kindTokens("bloom"))))
      case "text" =>
        one(Seq("postings", "meta", "doclens", "tombstones"), "seg", "tomb")
      case "knn" => StoreLayout(Seq(SubStore(
        Seq("nodes", "edges"), "seg=",
        (s, p, v) => {
          val live = StoreVersioning.liveTokens(s, s"$p/manifest", v)
          (live("nodes") ++ knnEdges(live).values).toSet
        })))
      case "retrieval" =>
        one(Seq("chunkmeta", "vectors", "norms", "postings"), "seg")
      // the quality-history store: one release segment per append
      // (kind "rel"); retention bounds how much history drift keeps
      case "scorecard" => one(Seq("releases"), "rel")
      case "curation" => StoreLayout(Seq.empty)
      case other => throw new IllegalArgumentException(
        s"unknown store kind '$other'; known: ivf, pq, ivfpq, lsh, " +
          "dedup, shingle, text, knn, curation, retrieval, scorecard")
    }
  }

  /** ONE retention sweep for any persisted store — keep the `keep` most
    * recent manifest versions, then drop segments no surviving version
    * references ([[StoreVersioning.retain]] dispatched through
    * [[storeLayout]]). A daily pipeline schedules this once per store
    * instead of remembering five per-store gc entry points.
    */
  def retainStore(spark: SparkSession, kind: String, path: String,
      keep: Int): Unit =
    StoreVersioning.retain(spark, path, keep, storeLayout(kind))
}
