package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The persisted form of [[RetrievalProgram]] — build the RAG serving
  * artifacts ONCE, probe many times (round 14; the `ivfpq_store`
  * discipline applied to the composed retrieval chain). The in-query
  * program re-chunks, re-embeds, re-assigns, and re-indexes the corpus
  * on EVERY probe; production builds those four artifacts once, appends
  * document deltas, and serves probes that never touch corpus text.
  *
  * Layout under `path` (all segments immutable, manifest versioned by
  * [[StoreVersioning]] — kind "seg"):
  *
  *  - `seeds/` + `seednorms/` — the FROZEN coarse quantizer (the first
  *    [[RetrievalProgram.NSeeds]] chunk vectors at build time): ≤ 256
  *    (seed_idx, pos, sv) rows + one norm row per seed. Frozen exactly
  *    like [[PersistedIndex.buildIvfIndex]]'s centroids — appended
  *    chunks are assigned to build-time seeds (weekly-rebuild trade).
  *  - `chunkmeta/ingest=<t>/` — (chunk_id, dl): the chunk manifest's
  *    id + token-length rows (the BM25 normalizer reads ONLY this).
  *  - `vectors/ingest=<t>/cluster=C/` — (chunk_id, pos, v): sparse
  *    signed hash-embedding entries, hive-partitioned by the assigned
  *    coarse cluster so a probe's vector side scans ONLY its probed
  *    partitions (the [[PersistedIndex.probeIvfIndex]] DPP shape).
  *  - `norms/ingest=<t>/cluster=C/` — (chunk_id, n2): per-chunk exact
  *    integer norm, same partitioning.
  *  - `postings/ingest=<t>/` — (term, chunk_id, tf, dl): the chunk
  *    inverted index; a probe filters to its query terms, which lands
  *    in the parquet scan's PushedFilters (plan-asserted).
  *
  * The probe replays [[RetrievalProgram]]'s stage 4+5 byte-for-byte
  * (same seeded probe decision, same BM25 formula over the same
  * (chunk_id, dl, term, tf) rows, same integer cosine, same RRF fuse),
  * so `retrieval_store` answers the SAME chain oracle as
  * `retrieval_program` — the green hash proves build + append + probe
  * equals the in-query composition.
  */
object RetrievalStore {

  import RetrievalProgram.IdBase

  private def segs(spark: SparkSession, path: String,
      version: Long): Seq[String] =
    StoreVersioning.liveTokens(spark, s"$path/manifest", version)
      .getOrElse("seg", Seq.empty)

  /** Chunk → sparse-embed → assign-to-frozen-seeds → land one immutable
    * segment (vectors/norms cluster-partitioned, postings, chunkmeta). */
  private def writeSegment(spark: SparkSession, chunks: DataFrame,
      path: String, token: String): Unit = {
    val (sparse, norms) = RetrievalProgram.embedStages(chunks)
    writeSegmentFrom(spark, chunks, sparse, norms, path, token)
  }

  /** Exact per-chunk content checksum persisted in `chunkmeta` — the
    * append path's divergence detector reads ONLY this (never corpus
    * text): a replayed doc_id with IDENTICAL text reproduces the same
    * (chunk set, csum) rows; a doc_id carrying UPDATED text cannot. */
  private def chunkChecksum(ctoks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    xxhash64(array_join(ctoks, " "))

  /** [[writeSegment]] with the embed stages precomputed — the build
    * path already fenced them for seed selection, so re-embedding the
    * whole corpus here would double the build's heaviest pass. */
  private def writeSegmentFrom(spark: SparkSession, chunks: DataFrame,
      sparse: DataFrame, norms: DataFrame, path: String,
      token: String): Unit = {
    val seedVecs = spark.read.parquet(s"$path/seeds")
    val seedNorms = spark.read.parquet(s"$path/seednorms")
    val assigned = RetrievalProgram.assignToSeeds(sparse, norms,
      seedVecs, seedNorms)
    graft.sources.CorpusWriter.writePartitioned(
      sparse.join(assigned, "chunk_id")
        .select(col("chunk_id"), col("pos"), col("v"), col("cluster")),
      s"$path/vectors/ingest=$token", Seq("cluster"), "chunk_id")
    graft.sources.CorpusWriter.writePartitioned(
      norms.join(assigned, "chunk_id")
        .select(col("chunk_id"), col("n2"), col("cluster")),
      s"$path/norms/ingest=$token", Seq("cluster"), "chunk_id")
    chunks
      .select(col("chunk_id"), size(col("ctoks")).cast(LongType).as("dl"),
        explode(col("ctoks")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("chunk_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/postings/ingest=$token")
    chunks
      .select(col("chunk_id"), size(col("ctoks")).cast(LongType).as("dl"),
        chunkChecksum(col("ctoks")).as("csum"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/chunkmeta/ingest=$token")
  }

  /** Build the store: chunk the corpus, freeze the seed quantizer from
    * the base build's first chunk vectors, land the base segment,
    * publish manifest version 1. */
  def buildRetrievalStore(spark: SparkSession, corpus: DataFrame,
      path: String): Unit = {
    val chunks = RetrievalProgram.chunkStage(corpus)
    val (sparse, norms) = RetrievalProgram.embedStages(chunks)
    val (seedVecs, seedNorms) = RetrievalProgram.seedStage(sparse)
    seedVecs.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/seeds")
    seedNorms.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/seednorms")
    // which CHUNKS the frozen quantizer was trained on — ≤ NSeeds rows.
    // Read by the forget guard (a seed doc cannot be forgotten without a
    // rebuild) and by the session-store seed/delta invariant check.
    RetrievalProgram.seedMap(sparse).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/seedmeta")
    writeSegmentFrom(spark, chunks, sparse, norms, path, "base")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", "base")))
  }

  /** Fold a batch of new documents in: doc_ids the live segments already
    * hold are checked for CONTENT divergence (round-15 ADVICE — a batch
    * carrying UPDATED text for a stored doc_id must fail LOUDLY, never
    * be silently dropped as a replay) and then skipped (an identical
    * replayed batch is a no-op — the ingest-stream idempotence
    * contract); the fresh survivors are chunked + embedded + assigned
    * against the FROZEN seeds and land as an immutable segment under a
    * new manifest version. Pinned readers of the old version never see
    * it. The divergence check reads only `chunkmeta` (chunk set + exact
    * content checksum per chunk) joined doc-keyed against the
    * re-chunked INTERSECTING docs — replay-sized, never corpus-sized.
    */
  def appendToRetrievalStore(spark: SparkSession, docBatch: DataFrame,
      path: String): Unit = {
    val live = segs(spark, path, -1L)
    val storedMeta = spark.read.parquet(s"$path/chunkmeta")
      .filter(col("ingest").isInCollection(live))
    val storedDocs = storedMeta
      .select(floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id"))
      .distinct()
    val batch = docBatch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
      .transform(Fence)
    val replayed = batch.join(storedDocs, Seq("doc_id"), "left_semi")
    val divergent = RetrievalProgram.chunkStage(replayed)
      .select(col("chunk_id"), chunkChecksum(col("ctoks")).as("csum"))
      .join(storedMeta
          .withColumn("doc_id",
            floor(col("chunk_id") / IdBase).cast(LongType))
          .join(replayed.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("chunk_id"), col("csum").as("stored_csum")),
        Seq("chunk_id"), "full_outer")
      .filter(col("csum").isNull || col("stored_csum").isNull ||
        col("csum") =!= col("stored_csum"))
      .select(floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id"))
      .limit(1).collect()
    require(divergent.isEmpty,
      s"appendToRetrievalStore($path): doc_id ${divergent.head.getLong(0)} " +
        "is already stored with DIFFERENT content — the store is " +
        "append-only by id (a replay must carry identical text); update " +
        "via forgetFromRetrievalStore + append, or rebuild")
    val fresh = batch.join(storedDocs, Seq("doc_id"), "left_anti")
      .transform(Fence)
    if (fresh.isEmpty) return // full replay — nothing to fold
    val token =
      s"d${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    writeSegment(spark, RetrievalProgram.chunkStage(fresh), path, token)
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).map(("seg", _)))
  }

  /** Copy-on-write FORGET (round 15 — the GDPR-shaped maintenance op):
    * physically remove every chunk of `ids` from the live segments.
    * Only segments that HOLD a forgotten doc are rewritten (their rows
    * re-land under a fresh `ingest=f<v>_<t>` token minus the forgotten
    * docs); untouched segments keep their files and tokens — the
    * copy-on-write granularity [[RetrievalStoreSpec]] asserts. A new
    * manifest version publishes the surviving + rewritten tokens;
    * pinned readers of older versions still see the rows until
    * [[PersistedIndex.retainStore]] drops their segments (retention is
    * the physical deletion point, as for every store).
    *
    * forget ≡ recompute: because the seeds are frozen and every
    * artifact row is per-chunk, the post-forget store is row-identical
    * to a fresh build on (corpus minus ids) — BM25 df/stats read from
    * the physically-reduced postings/chunkmeta, so even scores match
    * (spec-proven via [[storeStats]] + probe equality). The one
    * exception is guarded LOUDLY: a doc the frozen quantizer was
    * trained on ([[buildRetrievalStore]]'s `seedmeta`) cannot be
    * forgotten without a rebuild — its seed vector IS derived content.
    *
    * Scale shape: the affected-segment discovery is one chunkmeta scan
    * semi-joined against the (checkpointed, delete-sized) id set; the
    * rewrite reads only affected segments' rows anti-joined doc-keyed.
    */
  def forgetFromRetrievalStore(spark: SparkSession, ids: DataFrame,
      path: String): Unit = {
    val drop = ids.select(col("doc_id")).dropDuplicates("doc_id")
      .transform(Fence)
    val seedHit = spark.read.parquet(s"$path/seedmeta")
      .select(floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id"))
      .join(drop, Seq("doc_id"), "left_semi")
      .limit(1).collect()
    require(seedHit.isEmpty,
      s"forgetFromRetrievalStore($path): doc_id " +
        s"${seedHit.headOption.map(_.getLong(0)).getOrElse(-1L)} is a " +
        "frozen-quantizer seed doc — its seed vector is derived content; " +
        "rebuild the store to forget it")
    val live = segs(spark, path, -1L)
    val docOf = floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id")
    val affected = spark.read.parquet(s"$path/chunkmeta")
      .filter(col("ingest").isInCollection(live))
      .withColumn("doc_id", docOf)
      .join(drop, Seq("doc_id"), "left_semi")
      .select("ingest").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: #live segments
    if (affected.isEmpty) return // ids not stored — idempotent no-op
    val v = StoreVersioning.latestVersion(spark, s"$path/manifest") + 1
    val renamed = affected.map(t => t -> s"f${v}_$t").toMap
    affected.foreach { t =>
      def survivors(sub: String): DataFrame =
        spark.read.parquet(s"$path/$sub")
          .filter(col("ingest") === t).drop("ingest")
          .withColumn("doc_id", docOf)
          .join(drop, Seq("doc_id"), "left_anti")
          .drop("doc_id")
      graft.sources.CorpusWriter.writePartitioned(survivors("vectors"),
        s"$path/vectors/ingest=${renamed(t)}", Seq("cluster"), "chunk_id")
      graft.sources.CorpusWriter.writePartitioned(survivors("norms"),
        s"$path/norms/ingest=${renamed(t)}", Seq("cluster"), "chunk_id")
      survivors("postings").write.mode(SaveMode.Overwrite)
        .parquet(s"$path/postings/ingest=${renamed(t)}")
      survivors("chunkmeta").write.mode(SaveMode.Overwrite)
        .parquet(s"$path/chunkmeta/ingest=${renamed(t)}")
    }
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      live.map(t => ("seg", renamed.getOrElse(t, t))))
  }

  /** Compact a delta-grown store: fold every live segment's rows into
    * ONE new `ingest=c<v>` segment and publish it as the next manifest
    * version — readers pinned to the old version keep their segments
    * (nothing is deleted here; [[PersistedIndex.retainStore]] is the
    * retention pass). Rows are copied verbatim: the seeds are frozen,
    * so re-chunking/re-embedding/re-assigning is a no-op by
    * construction — cheaper not to re-run it (the
    * [[PersistedIndex.compactIvfPqIndex]] discipline).
    */
  def compactRetrievalStore(spark: SparkSession, path: String): Unit = {
    val live = segs(spark, path, -1L)
    val token =
      s"c${StoreVersioning.latestVersion(spark, s"$path/manifest") + 1}"
    def liveRows(sub: String): DataFrame =
      spark.read.parquet(s"$path/$sub")
        .filter(col("ingest").isInCollection(live))
        .drop("ingest")
        .transform(Fence) // materialize BEFORE writing into the same tree
    graft.sources.CorpusWriter.writePartitioned(liveRows("vectors"),
      s"$path/vectors/ingest=$token", Seq("cluster"), "chunk_id")
    graft.sources.CorpusWriter.writePartitioned(liveRows("norms"),
      s"$path/norms/ingest=$token", Seq("cluster"), "chunk_id")
    liveRows("postings").write.mode(SaveMode.Overwrite)
      .parquet(s"$path/postings/ingest=$token")
    liveRows("chunkmeta").write.mode(SaveMode.Overwrite)
      .parquet(s"$path/chunkmeta/ingest=$token")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      Seq(("seg", token)))
  }

  /** The streaming ingest twin — each arriving micro-batch of
    * (doc_id, text) documents folds through the same segment + manifest
    * discipline (at-least-once replays are absorbed by the stored-doc
    * dedup). Start with `.start()`. */
  def retrievalIngestStream(docs: DataFrame, path: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendToRetrievalStore(batch.sparkSession, batch.toDF(), path)
      }

  /** Probe the store: the [[RetrievalProgram]] hybrid probe served
    * entirely from persisted artifacts — the probed-cluster decision
    * reads the ≤ 256-row frozen seeds, the vector side scans ONLY the
    * probed cluster partitions (broadcast cluster join → partition
    * pruning), the text side reads ONLY the query terms' posting rows
    * (term filter in PushedFilters) plus the chunk-length rows for the
    * normalizer. NO corpus text anywhere in the plan (spec-asserted).
    */
  def probeRetrievalStore(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val textTop = RetrievalProgram.textRankQ9(
      probeTf(spark, path, version),
      probeDf(spark, path, version), probeStats(spark, path, version))
    val vecTop = RetrievalProgram.vecRank(
      probeVectorScored(spark, path, version))
    RetrievalProgram.finalProjection(
      RetrievalProgram.fuse(textTop, vecTop))
  }

  /** The probe's text-side tf scan — the persisted postings pruned to
    * the query's terms. Exposed unfenced so specs can assert the pushed
    * term filter (the probe's public result sits behind checkpoint
    * fences, which erase upstream plans from the final explain). */
  private[graft] def probeTf(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame =
    spark.read.parquet(s"$path/postings")
      .filter(col("ingest").isInCollection(segs(spark, path, version)))
      .filter(col("term").isin(graft.operators.Retrieval.QueryTerms: _*))
      .select(col("chunk_id"), col("dl"), col("term"), col("tf"))

  private def probeDf(spark: SparkSession, path: String,
      version: Long): DataFrame =
    probeTf(spark, path, version)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  private def probeStats(spark: SparkSession, path: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$path/chunkmeta")
      .filter(col("ingest").isInCollection(segs(spark, path, version)))
      .agg(count(lit(1)).as("n_corpus"),
        avg(col("dl").cast("double")).as("avgdl"))

  /** The probe's vector-side (chunk_id, cosv) frame — probed-cluster
    * partitions only, unfenced (the spec-assertable plan). */
  private[graft] def probeVectorScored(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val live = segs(spark, path, version)
    val seedVecs = spark.read.parquet(s"$path/seeds")
    val seedNorms = spark.read.parquet(s"$path/seednorms")
    val (qSparse, qNorm) = RetrievalProgram.queryVec(spark)
    val probe = RetrievalProgram.probeSeeds(qSparse, qNorm,
      seedVecs, seedNorms)
    val norms = spark.read.parquet(s"$path/norms")
      .filter(col("ingest").isInCollection(live))
    val vectors = spark.read.parquet(s"$path/vectors")
      .filter(col("ingest").isInCollection(live))
    val qDots = vectors
      .join(broadcast(probe), "cluster") // partition-pruned scan
      .join(broadcast(qSparse), "pos")
      .groupBy("chunk_id").agg(sum(col("v") * col("qv"))
        .cast(LongType).as("d"))
    val cosV = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2q").cast("double"))))
    norms.join(broadcast(probe), "cluster")
      .join(qDots, Seq("chunk_id"), "left")
      .crossJoin(broadcast(qNorm))
      .select(col("chunk_id"), cosV.as("cosv"))
  }

  /** Batched probe (round 15) — a query panel served in ONE pass over
    * the persisted artifacts: the postings scan prunes to the UNION of
    * the panel's terms (PushedFilters, plan-asserted via
    * [[probeTfBatch]]), the vector side scans only the union of every
    * query's probed cluster partitions, and the per-query two-phase
    * ranking windows + per-query RRF fuse replay
    * [[RetrievalProgram.textRankQ9Batch]]/[[RetrievalProgram.vecRankBatch]]/
    * [[RetrievalProgram.fuseBatch]]. Panel query 1 is exactly
    * [[Retrieval.QueryTerms]], so its rows must equal the single
    * [[probeRetrievalStore]] (spec-pinned — the batch replay cannot
    * drift from the serving probe). */
  def probeRetrievalStoreBatch(spark: SparkSession, path: String,
      panel: Seq[(Long, Seq[String])] = RetrievalProgram.StorePanel,
      version: Long = -1L): DataFrame = {
    import spark.implicits._
    val qterms = panel.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val tf = probeTfBatch(spark, path, panel, version)
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val textTop = RetrievalProgram.textRankQ9Batch(tf, qterms, dfTerm,
      probeStats(spark, path, version), RetrievalProgram.KEach)
    val vecTop = RetrievalProgram.vecRankBatch(
      probeVectorScoredBatch(spark, path, panel, version),
      RetrievalProgram.KEach)
    RetrievalProgram.finalProjectionBatch(
      RetrievalProgram.fuseBatch(textTop, vecTop, RetrievalProgram.TopK))
  }

  /** The batch probe's text-side tf scan — postings pruned to the
    * panel's term UNION (exposed unfenced for the PushedFilters spec,
    * the [[probeTf]] pattern). */
  private[graft] def probeTfBatch(spark: SparkSession, path: String,
      panel: Seq[(Long, Seq[String])], version: Long = -1L): DataFrame =
    spark.read.parquet(s"$path/postings")
      .filter(col("ingest").isInCollection(segs(spark, path, version)))
      .filter(col("term").isin(panel.flatMap(_._2).distinct: _*))
      .select(col("chunk_id"), col("dl"), col("term"), col("tf"))

  /** The batch probe's vector side — (query_id, chunk_id, cosv) over
    * ONLY the union of the panel's probed cluster partitions; each
    * chunk scores against exactly the queries that probed its cluster
    * (unfenced — the spec-assertable plan). */
  private[graft] def probeVectorScoredBatch(spark: SparkSession,
      path: String, panel: Seq[(Long, Seq[String])],
      version: Long = -1L): DataFrame = {
    val live = segs(spark, path, version)
    val seedVecs = spark.read.parquet(s"$path/seeds")
    val seedNorms = spark.read.parquet(s"$path/seednorms")
    val (qSparse, qNorm) = RetrievalProgram.panelVecs(spark, panel)
    val probe = RetrievalProgram.probeSeedsBatch(qSparse, qNorm,
      seedVecs, seedNorms, RetrievalProgram.NProbe)
    val norms = spark.read.parquet(s"$path/norms")
      .filter(col("ingest").isInCollection(live))
    val vectors = spark.read.parquet(s"$path/vectors")
      .filter(col("ingest").isInCollection(live))
    val qDots = vectors
      .join(broadcast(probe), "cluster") // partition-pruned scan
      .join(broadcast(qSparse), Seq("query_id", "pos"))
      .groupBy("query_id", "chunk_id")
      .agg(sum(col("v") * col("qv")).cast(LongType).as("d"))
    val cosV = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2q").cast("double"))))
    norms.join(broadcast(probe), "cluster")
      .join(qDots, Seq("query_id", "chunk_id"), "left")
      .join(broadcast(qNorm), "query_id")
      .select(col("query_id"), col("chunk_id"), cosV.as("cosv"))
  }

  /** Filtered probe (round 15) — the single-query probe under a doc-id
    * recency window, the metadata predicate pushed into BOTH probe
    * sides: the postings scan AND the cluster-pruned vectors/norms
    * scans carry `chunk_id ∈ [loDoc·IdBase, hiDoc·IdBase)` in their
    * parquet PushedFilters (chunk_id is monotone in doc_id, so the doc
    * window IS a chunk range — row-group min/max skips apply). The
    * probe decision over-probes to [[RetrievalProgram.NProbeFiltered]]
    * clusters (predicate-removed candidates compensation — the
    * sim_topk_filtered discipline); BM25 keeps the GLOBAL df/avgdl
    * statistics (a store serves filtered probes without recomputing
    * index statistics), so an in-range chunk's text score is identical
    * to its unfiltered score. Recall vs the filtered exact scan is
    * floored by [[RetrievalStoreSpec]]. */
  def probeRetrievalStoreFiltered(spark: SparkSession, path: String,
      loDoc: Long = RetrievalProgram.FilterLoDoc,
      hiDoc: Long = RetrievalProgram.FilterHiDoc,
      version: Long = -1L): DataFrame = {
    val textTop = RetrievalProgram.textRankQ9(
      probeTfFiltered(spark, path, loDoc, hiDoc, version),
      probeDf(spark, path, version), probeStats(spark, path, version))
    val vecTop = RetrievalProgram.vecRank(
      probeVectorScoredFiltered(spark, path, loDoc, hiDoc, version))
    RetrievalProgram.finalProjection(
      RetrievalProgram.fuse(textTop, vecTop))
  }

  /** The filtered probe's text-side tf scan — [[probeTf]] with the
    * chunk-range predicate (exposed unfenced for the PushedFilters
    * spec). */
  private[graft] def probeTfFiltered(spark: SparkSession, path: String,
      loDoc: Long, hiDoc: Long, version: Long = -1L): DataFrame =
    probeTf(spark, path, version)
      .filter(col("chunk_id") >= loDoc * IdBase &&
        col("chunk_id") < hiDoc * IdBase)

  /** The filtered probe's vector side — probed-cluster partitions with
    * the chunk-range predicate on both the vectors and norms scans,
    * over-probed (unfenced — the spec-assertable plan). */
  private[graft] def probeVectorScoredFiltered(spark: SparkSession,
      path: String, loDoc: Long, hiDoc: Long,
      version: Long = -1L): DataFrame = {
    val live = segs(spark, path, version)
    val lo = loDoc * IdBase
    val hi = hiDoc * IdBase
    val seedVecs = spark.read.parquet(s"$path/seeds")
    val seedNorms = spark.read.parquet(s"$path/seednorms")
    val (qSparse, qNorm) = RetrievalProgram.queryVec(spark)
    val probe = RetrievalProgram.probeSeeds(qSparse, qNorm,
      seedVecs, seedNorms, RetrievalProgram.NProbeFiltered)
    val norms = spark.read.parquet(s"$path/norms")
      .filter(col("ingest").isInCollection(live))
      .filter(col("chunk_id") >= lo && col("chunk_id") < hi)
    val vectors = spark.read.parquet(s"$path/vectors")
      .filter(col("ingest").isInCollection(live))
      .filter(col("chunk_id") >= lo && col("chunk_id") < hi)
    val qDots = vectors
      .join(broadcast(probe), "cluster") // partition-pruned scan
      .join(broadcast(qSparse), "pos")
      .groupBy("chunk_id").agg(sum(col("v") * col("qv"))
        .cast(LongType).as("d"))
    val cosV = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2q").cast("double"))))
    norms.join(broadcast(probe), "cluster")
      .join(qDots, Seq("chunk_id"), "left")
      .crossJoin(broadcast(qNorm))
      .select(col("chunk_id"), cosV.as("cosv"))
  }

  /** The store as a driver surface: build on the non-delta residue
    * (doc_id % 100 <> 77 — the lsh_store discipline; the seed chunks
    * come from the lowest doc_ids, which stay in the base build), fold
    * the delta residue in with [[appendToRetrievalStore]], probe — must
    * equal [[RetrievalProgram.retrievalProgram]] over the whole corpus
    * (the driver's oracle replays exactly that), proving
    * build + append + probe under frozen seeds. Cached per (app, sfDir).
    */
  private[operators] def sessionStore(spark: SparkSession,
      sfDir: String): String =
    SessionCache.directory(spark, "graft-retrieval-store", sfDir) { p =>
      val d = graft.sources.Tables.documents(spark, sfDir)
      val isDelta = pmod(col("doc_id"), lit(100)) === 77
      buildRetrievalStore(spark, d.filter(!isDelta), p)
      // the build-on-residue + append-delta == whole-corpus-program
      // equality relies on the base build's frozen seeds BEING the
      // full corpus's first-NSeeds chunks — true iff every seed doc
      // sorts below the first delta doc. Assert it LOUDLY at build
      // time (round-15 ADVICE: raising NSeeds or changing the delta
      // residue would otherwise break the retrieval_store oracle far
      // from the cause). Both sides are 1-row driver reads.
      val maxSeedDoc = spark.read.parquet(s"$p/seedmeta")
        .agg(max(floor(col("chunk_id") / IdBase).cast(LongType)))
        .head.getLong(0)
      val minRow = d.filter(isDelta).agg(min(col("doc_id"))).head
      // an empty delta residue (corpus without a doc ≡ 77 mod 100)
      // yields a NULL min — there is nothing to append and the
      // invariant holds trivially; reading getLong would NPE instead
      // of reaching the loud message below (round-15 review finding)
      if (!minRow.isNullAt(0)) {
        val minDeltaDoc = minRow.getLong(0)
        require(minDeltaDoc > maxSeedDoc,
          s"retrieval session store: delta residue starts at doc " +
            s"$minDeltaDoc but the frozen seeds reach doc $maxSeedDoc — " +
            "the base build's seeds would differ from the full-corpus " +
            "program's and the chain oracle would break; pick a delta " +
            "residue above the seed docs or lower NSeeds")
        appendToRetrievalStore(spark, d.filter(isDelta), p)
      }
    }


  /** Full-content integrity scorecard of the store — one row per
    * persisted artifact with its row count, key count, and an EXACT
    * integer checksum over the ENTIRE content (sum(dl), sum(v·v),
    * sum(n2), sum(tf), sum(chunk_id·(cluster+1))): order-independent
    * BIGINT sums, so any value drift anywhere in the store flips a
    * cell. The driver oracle replays the sums from the SAME chain CTE
    * generator as the probe oracle — this widens the verified surface
    * from the probe's top-k rows to every byte of store content.
    */
  def storeStats(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val live = segs(spark, path, version)
    def scan(sub: String): DataFrame = spark.read.parquet(s"$path/$sub")
      .filter(col("ingest").isInCollection(live))
    def row(name: String, df: DataFrame, keys: org.apache.spark.sql.Column,
        checksum: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).cast(LongType).as("n_rows"),
          keys.cast(LongType).as("n_keys"),
          coalesce(checksum, lit(0L)).cast(LongType).as("checksum"))
        .select(lit(name).as("artifact"), col("n_rows"), col("n_keys"),
          col("checksum"))
    row("assign", scan("norms"), countDistinct(col("cluster")),
        sum(col("chunk_id") * (col("cluster") + 1L)))
      .unionAll(row("chunkmeta", scan("chunkmeta"),
        countDistinct(col("chunk_id")), sum(col("dl"))))
      .unionAll(row("norms", scan("norms"),
        countDistinct(col("chunk_id")), sum(col("n2"))))
      .unionAll(row("postings", scan("postings"),
        countDistinct(col("term")), sum(col("tf"))))
      .unionAll(row("vectors", scan("vectors"),
        countDistinct(col("chunk_id")), sum(col("v") * col("v"))))
      .orderBy("artifact")
  }

  /** Driver surface — answers the chain-replayed checksum oracle. */
  def statsFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    storeStats(spark, sessionStore(spark, sfDir))

  /** Driver surface — answers the retrieval_program chain oracle. */
  def retrievalFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeRetrievalStore(spark, sessionStore(spark, sfDir))

  /** Driver surface — answers the batched panel chain oracle. */
  def retrievalBatchFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeRetrievalStoreBatch(spark, sessionStore(spark, sfDir))

  /** Driver surface — answers the filtered chain oracle. */
  def retrievalFilteredFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame =
    probeRetrievalStoreFiltered(spark, sessionStore(spark, sfDir))
}
