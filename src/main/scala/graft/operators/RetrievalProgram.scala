package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** The composed RAG build promoted to one operator — the
  * [[CurationProgram]] symmetry for retrieval (round 13):
  *
  *   sliding chunks → per-chunk hash embedding → seeded-IVF coarse
  *   index → chunk inverted index → hybrid (BM25 + cosine) probe
  *
  * in ONE chained plan with a per-stage funnel
  * ([[retrievalFunnel]]: chunks / vectors / postings / assignment /
  * candidate / fused counts — the observability rows a RAG build logs).
  *
  * Scale shape: ONE text scan produces the chunk manifest
  * (chunk_id, doc_id, chunk_idx, chunk tokens), which is CHECKPOINTED —
  * the production materialization point (a RAG build persists its chunk
  * table anyway); every later stage reads the fence, never the corpus.
  * The embedding is the [[TextPipeline.textHashEmbed]] signed 64-bucket
  * recipe folded IN-EXPRESSION per chunk (zero shuffles to embed), kept
  * SPARSE — all similarity math is integer sparse-dot via keyed joins
  * on the bucket position against BROADCAST seed/query vectors (the
  * scalable plan for sparse vectors; nothing corpus-sized is ever
  * densified or collected). The coarse quantizer is seeded
  * nearest-neighbor assignment over the first [[NSeeds]] chunk vectors
  * — Lloyd refinement is [[SimilarityPipeline.embKmeans]]'s axis; a
  * production build trains the quantizer offline and freezes it, which
  * is exactly what frozen seeds model. The text side scores the chunk
  * corpus with the shared [[Retrieval.bm25Weight]] formula (one scoring
  * implementation engine-wide), the vector side ranks cosine inside the
  * [[NProbe]] probed clusters only, and fusion is
  * [[Retrieval.hybridRrf]]'s reciprocal-rank formula over two ≤ kEach
  * frames.
  *
  * Determinism (round 14, the persisted-store hardening): chunk vectors
  * and the query vector are INTEGER signed counts, so every dot and
  * norm is exact; the BM25 side quantizes each per-term weight to
  * nano-units BEFORE summing (`floor(w·10⁹ + ½)` as BIGINT), making the
  * per-chunk text score an order-independent INTEGER — the in-query
  * program, the [[RetrievalStore]] probe (a different physical plan
  * over persisted postings), and the DuckDB replay produce bit-equal
  * rankings regardless of aggregation order. (The per-term weight
  * itself must be the same IEEE evaluation on both engines: the oracle
  * CTE parenthesizes the saturation term to match [[Retrieval
  * .bm25Weight]]'s `idf * sat` association exactly, and ln agreement
  * between the JVM and DuckDB is pinned empirically by the three-SF
  * verify — the same dependency every ln-based oracle in the engine
  * carries.) The RRF score is
  * floor-quantized (`floor(x·10⁶ + ½)/10⁶`), not round(), per the
  * pairAlignment half-point discipline. The DuckDB oracle replays the
  * WHOLE chain stage-for-stage from one shared CTE generator.
  */
object RetrievalProgram {

  private[operators] val Win = 32
  private[operators] val Stride = 24
  private[operators] val NSeeds = 4
  private[operators] val NProbe = 2
  private[operators] val KEach = 20
  private[operators] val TopK = 10
  /** chunk_id = doc_id * IdBase + chunk_idx (chunk counts are bounded
    * far below this at the generator's document lengths). */
  private[operators] val IdBase = 1024L


  /** THE floor-quantized RRF fuse recipe — reciprocal ranks at k=60
    * summed, floor-quantized to 10⁻⁶ (the pairAlignment half-point
    * discipline). ONE definition behind [[fuse]], [[fuseBatch]],
    * [[RankerEval.hybridRanking]], and (via [[rrfSql]]) every oracle
    * replay — round-15 review: the constant + quantization lived
    * inline at four Scala and four SQL sites, so a recipe change
    * would silently diverge the rankers the scorecard compares. */
  private[operators] val RrfK = 60.0
  private[operators] def rrfScore(textRank: Column,
      vecRank: Column): Column = {
    val raw = coalesce(lit(1.0) / (lit(RrfK) + textRank), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + vecRank), lit(0.0))
    floor(raw * lit(1000000d) + lit(0.5d)) / lit(1000000d)
  }

  /** The SQL form of [[rrfScore]] over two rank expressions — the ONE
    * text every oracle interpolates. */
  private[operators] def rrfSql(textRank: String, vecRank: String): String =
    s"""floor((coalesce(1.0 / ($RrfK + $textRank), 0.0) +
      coalesce(1.0 / ($RrfK + $vecRank), 0.0)) * 1000000 + 0.5)
      / 1000000"""

  /** The signed-bucket entry for one token — the ONE shared
    * [[TextPipeline.hashEmbedEntry]] recipe (identical to the oracle's
    * strpos replay). */
  private def hashEntry(t: Column): Column =
    TextPipeline.hashEmbedEntry(t)

  private[operators] case class Stages(chunks: DataFrame, sparse: DataFrame,
      assigned: DataFrame, textTop: DataFrame, vecTop: DataFrame,
      fused: DataFrame)

  // ------------------- the chain's stages, shared with RetrievalStore --

  /** Stage 1: the ONE text scan → fenced chunk manifest
    * (chunk_id, doc_id, chunk_idx, ctoks). */
  private[operators] def chunkStage(corpus: DataFrame): DataFrame = {
    val toks = col("toks")
    val nc = when(size(toks) <= Win, lit(1L))
      .otherwise(floor((size(toks) - lit(Win - Stride + 1))
        .cast("double") / lit(Stride.toDouble)).cast(LongType) + 1L)
    Fence(corpus
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), nc.as("nc"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_idx"))
      // loud guard (round-13 review finding): a document long enough
      // that chunk_idx reaches IdBase would silently collide with the
      // NEXT doc's chunk 0 in every chunk_id-keyed stage — and the
      // oracle replays the same collision, so verify would stay green
      // over corrupted ids. Fail the scan instead.
      .select(col("doc_id"),
        when(col("chunk_idx") < IdBase, col("toks"))
          .otherwise(raise_error(concat(
            lit("retrieval_program: document "),
            col("doc_id").cast("string"),
            lit(s" has >= $IdBase chunks; chunk_id = doc_id*$IdBase+idx " +
              "would collide — raise IdBase")))).as("toks"),
        col("chunk_idx"))
      .select((col("doc_id") * IdBase + col("chunk_idx")).as("chunk_id"),
        col("doc_id"), col("chunk_idx"),
        slice(col("toks"), (col("chunk_idx") * Stride + 1L).cast("int"),
          lit(Win)).as("ctoks")))
  }

  /** Stage 2: per-chunk hash embedding in ONE native pass — fenced
    * sparse (chunk_id, pos, v) entries and (chunk_id, n2) norms.
    * Round 16: the interpreted HOF fold (`aggregate(transform(...))`
    * with a zip_with bump) allocated a fresh 64-element array + index
    * sequence and computed md5 TWICE per token — the chain's hottest
    * expression; [[graft.expressions.HashEmbed64]] hashes each token
    * once into a single long[64] accumulator, element-identical
    * (spec-pinned in TextVectorFunctionsSpec). */
  private[operators] def embedStages(
      chunks: DataFrame): (DataFrame, DataFrame) = {
    graft.expressions.VectorExpressions.register(chunks.sparkSession)
    val dense = chunks.select(col("chunk_id"),
      graft.expressions.VectorExpressions
        .hashEmbed64Native(col("ctoks")).as("dense"))
    val sparse = Fence(dense
      .select(col("chunk_id"), posexplode(col("dense")).as(Seq("pos", "v")))
      .filter(col("v") =!= 0L)
      .select(col("chunk_id"), col("pos").cast(LongType).as("pos"),
        col("v")))
    val norms = Fence(sparse.groupBy("chunk_id")
      .agg(sum(col("v") * col("v")).cast(LongType).as("n2")))
    (sparse, norms)
  }

  /** The batched probe's query panel (round 15) — 8 queries: ids 1–4
    * are EXACTLY [[Retrieval.QueryPanel]] (derived, not copied — the
    * ranker scorecard grades those four), 5–8 widen the serving panel.
    * Query 1's terms are [[Retrieval.QueryTerms]], so the batch probe's
    * query_id=1 rows must equal the single probe (spec-pinned). Shared
    * with the generated oracle via [[panelValuesSql]]. */
  private[graft] val StorePanel: Seq[(Long, Seq[String])] =
    Retrieval.QueryPanel ++ Seq(
      5L -> Seq("table", "scan"),
      6L -> Seq("group", "agg", "order"),
      7L -> Seq("key", "value", "column"),
      8L -> Seq("data", "row"))

  /** Chunk-shard fan for the batched two-phase ranking windows — the
    * [[Retrieval]] NShards discipline applied to chunk ids. */
  private[operators] val NShardsC = 8

  /** The panel's query vectors — the SAME embed recipe per query:
    * (query_id, pos, qv) sparse entries + (query_id, n2q) norms, both
    * ≤ 64·|panel| rows (always broadcast). */
  private[operators] def panelVecs(spark: SparkSession,
      panel: Seq[(Long, Seq[String])]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qSparse = panel
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "token")
      .filter(length(col("token")) > 0)
      .select(col("query_id"), hashEntry(col("token")).as("e"))
      .select(col("query_id"), col("e.pos").as("pos"),
        col("e.sgn").as("sgn"))
      .groupBy("query_id", "pos").agg(sum(col("sgn")).as("qv"))
      .filter(col("qv") =!= 0L)
    val qNorm = qSparse.groupBy("query_id")
      .agg(sum(col("qv") * col("qv")).cast(LongType).as("n2q"))
    (qSparse, qNorm)
  }

  /** Per-query probe decision — [[probeSeeds]] batched: each query's
    * `nProbe` nearest seeds by exact integer cosine (|panel|·NSeeds
    * candidate rows; the window partitions are seed-count-bounded). */
  private[operators] def probeSeedsBatch(qSparse: DataFrame,
      qNorm: DataFrame, seedVecs: DataFrame, seedNorms: DataFrame,
      nProbe: Int): DataFrame = {
    val qSeedDots = qSparse.join(broadcast(seedVecs), "pos")
      .groupBy("query_id", "seed_idx")
      .agg(sum(col("qv") * col("sv")).cast(LongType).as("d"))
    val cosProbe = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2s").cast("double")) * sqrt(col("n2q").cast("double"))))
    qNorm.crossJoin(broadcast(seedNorms))
      .join(qSeedDots, Seq("query_id", "seed_idx"), "left")
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(cosProbe.desc, col("seed_idx"))))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("seed_idx").as("cluster"))
  }

  /** [[textRankQ9]] batched: per-(query, chunk) nano-quantized BIGINT
    * BM25 sums ranked by the two-phase (query, shard) → (query) windows
    * — every window partition stays bounded at any corpus size. Emits
    * the fenced per-query top-`kEach` (query_id, chunk_id, text_rank).
    */
  private[operators] def textRankQ9Batch(tf: DataFrame, qterms: DataFrame,
      dfTerm: DataFrame, stats: DataFrame, kEach: Int): DataFrame =
    Fence(tf.join(broadcast(qterms), "term")
      .join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("wq9",
        floor(Retrieval.bm25Weight * lit(1000000000d) + lit(0.5d))
          .cast(LongType))
      .groupBy(col("query_id"), col("chunk_id"))
      .agg(sum(col("wq9")).cast(LongType).as("sq9"))
      .withColumn("srk", row_number().over(Window
        .partitionBy(col("query_id"), pmod(col("chunk_id"), lit(NShardsC)))
        .orderBy(col("sq9").desc, col("chunk_id"))))
      .filter(col("srk") <= kEach)
      .withColumn("text_rank", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col("sq9").desc, col("chunk_id"))).cast(LongType))
      .filter(col("text_rank") <= kEach)
      .select(col("query_id"), col("chunk_id"), col("text_rank")))

  /** [[vecRank]] batched over (query_id, chunk_id, cosv) — same
    * two-phase window discipline. */
  private[operators] def vecRankBatch(scored: DataFrame,
      kEach: Int): DataFrame =
    Fence(scored
      .withColumn("srk", row_number().over(Window
        .partitionBy(col("query_id"), pmod(col("chunk_id"), lit(NShardsC)))
        .orderBy(col("cosv").desc, col("chunk_id"))))
      .filter(col("srk") <= kEach)
      .withColumn("vec_rank", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col("cosv").desc, col("chunk_id"))).cast(LongType))
      .filter(col("vec_rank") <= kEach)
      .select(col("query_id"), col("chunk_id"), col("vec_rank")))

  /** [[fuse]] batched: per-query RRF over the two ≤ kEach sides (the
    * post-fuse window partitions by query over ≤ 2·kEach rows). */
  private[operators] def fuseBatch(textTop: DataFrame, vecTop: DataFrame,
      topK: Int): DataFrame = {
    Fence(textTop.join(vecTop, Seq("query_id", "chunk_id"), "full_outer")
      .select(col("query_id"), col("chunk_id"), col("text_rank"),
        col("vec_rank"),
        rrfScore(col("text_rank"), col("vec_rank")).as("rrf_score"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_score").desc, col("chunk_id"))).cast(LongType))
      .filter(col("rank") <= topK))
  }

  /** The batched fused frame's driver projection. */
  private[operators] def finalProjectionBatch(fused: DataFrame): DataFrame =
    fused.select(col("query_id"), col("rank"), col("chunk_id"),
        floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id"),
        pmod(col("chunk_id"), lit(IdBase)).as("chunk_idx"),
        col("text_rank"), col("vec_rank"), col("rrf_score"))
      .orderBy("query_id", "rank")

  /** The query vector: the SAME embed recipe over the fixed term list —
    * (pos, qv) sparse entries and the 1-row n2q norm. */
  private[operators] def queryVec(
      spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qSparse = Retrieval.QueryTerms.toDF("token")
      .filter(length(col("token")) > 0)
      .select(hashEntry(col("token")).as("e"))
      .select(col("e.pos").as("pos"), col("e.sgn").as("sgn"))
      .groupBy("pos").agg(sum(col("sgn")).as("qv"))
      .filter(col("qv") =!= 0L)
    val qNorm = qSparse.agg(sum(col("qv") * col("qv"))
      .cast(LongType).as("n2q"))
    (qSparse, qNorm)
  }

  /** The (seed_idx, chunk_id) identity of the frozen quantizer's
    * training chunks — the first [[NSeeds]] nonzero-vector chunks by
    * chunk_id. Persisted by [[RetrievalStore]] as `seedmeta` (the forget
    * guard and the session-store seed/delta invariant read it). */
  private[operators] def seedMap(sparse: DataFrame): DataFrame =
    sparse.select("chunk_id").distinct()
      .orderBy("chunk_id").limit(NSeeds)
      // post-limit window: <= NSeeds rows (the simTopK note)
      .withColumn("seed_idx",
        (row_number().over(Window.orderBy("chunk_id")) - 1).cast(LongType))
      .select(col("seed_idx"), col("chunk_id"))

  /** Stage 3a: the frozen coarse quantizer — the first [[NSeeds]] chunk
    * vectors as (seed_idx, pos, sv) entries plus their norms. */
  private[operators] def seedStage(
      sparse: DataFrame): (DataFrame, DataFrame) = {
    val seeds = seedMap(sparse)
    val seedVecs = seeds.join(sparse, "chunk_id")
      .select(col("seed_idx"), col("pos"), col("v").as("sv"))
    val seedNorms = seedVecs.groupBy("seed_idx")
      .agg(sum(col("sv") * col("sv")).cast(LongType).as("n2s"))
    (seedVecs, seedNorms)
  }

  /** Stage 3b: nearest-seed assignment — integer sparse dots against
    * the BROADCAST seed entries (≤ 256 rows; the corpus-sized side
    * never shuffles for the assignment), fenced (chunk_id, cluster). */
  private[operators] def assignToSeeds(sparse: DataFrame, norms: DataFrame,
      seedVecs: DataFrame, seedNorms: DataFrame): DataFrame = {
    val dots = sparse.join(broadcast(seedVecs), "pos")
      .groupBy(col("chunk_id"), col("seed_idx"))
      .agg(sum(col("v") * col("sv")).cast(LongType).as("d"))
    val cosAsg = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2s").cast("double"))))
    Fence(norms.crossJoin(broadcast(seedNorms))
      .join(dots, Seq("chunk_id", "seed_idx"), "left")
      .withColumn("rn", row_number().over(Window.partitionBy("chunk_id")
        .orderBy(cosAsg.desc, col("seed_idx"))))
      .filter(col("rn") === 1)
      .select(col("chunk_id"), col("seed_idx").as("cluster")))
  }

  /** Probe decision: the query's `nProbe` nearest seeds (bounded —
    * seed-count rows). Default [[NProbe]]; the filtered store probe
    * over-probes +1 to compensate for predicate-removed candidates. */
  private[operators] def probeSeeds(qSparse: DataFrame, qNorm: DataFrame,
      seedVecs: DataFrame, seedNorms: DataFrame,
      nProbe: Int = NProbe): DataFrame = {
    val qSeedDots = qSparse.join(broadcast(seedVecs), "pos")
      .groupBy("seed_idx").agg(sum(col("qv") * col("sv"))
        .cast(LongType).as("d"))
    val cosProbe = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2s").cast("double")) * sqrt(col("n2q").cast("double"))))
    seedNorms.join(qSeedDots, Seq("seed_idx"), "left")
      .crossJoin(broadcast(qNorm))
      .orderBy(cosProbe.desc, col("seed_idx"))
      .limit(nProbe)
      .select(col("seed_idx").as("cluster"))
  }

  /** The chunk corpus' (chunk_id, dl, term, tf) rows for the QUERY
    * terms — the text side's scoring input ([[RetrievalStore]] reads
    * the same rows from persisted postings). */
  private[operators] def chunkTf(chunks: DataFrame): DataFrame =
    chunks
      .select(col("chunk_id"), size(col("ctoks")).cast(LongType).as("dl"),
        explode(col("ctoks")).as("term"))
      .filter(col("term").isin(Retrieval.QueryTerms: _*))
      .groupBy(col("chunk_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Stage 4 text side: BM25 over (chunk_id, dl, term, tf) rows with
    * the per-term weight quantized to nano-units BEFORE the sum — the
    * per-chunk score is an exact BIGINT, so the ranking is identical
    * across the program's plan, the store probe's plan, and the oracle
    * (aggregation order cannot move it). Emits the fenced top-[[KEach]]
    * (chunk_id, text_rank).
    */
  private[operators] def textRankQ9(tf: DataFrame, dfTerm: DataFrame,
      stats: DataFrame): DataFrame =
    Fence(tf.join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("wq9",
        floor(Retrieval.bm25Weight * lit(1000000000d) + lit(0.5d))
          .cast(LongType))
      .groupBy(col("chunk_id"))
      .agg(sum(col("wq9")).cast(LongType).as("sq9"))
      .orderBy(col("sq9").desc, col("chunk_id"))
      .limit(KEach)
      // post-limit window: <= KEach rows
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("sq9").desc, col("chunk_id"))).cast(LongType))
      .select(col("chunk_id"), col("text_rank")))

  /** Stage 4 vector side: rank a (chunk_id, cosv) frame to the fenced
    * top-[[KEach]] (chunk_id, vec_rank). */
  private[operators] def vecRank(scored: DataFrame): DataFrame =
    Fence(scored
      .orderBy(col("cosv").desc, col("chunk_id"))
      .limit(KEach)
      // post-limit window: <= KEach rows
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cosv").desc, col("chunk_id"))).cast(LongType))
      .select(col("chunk_id"), col("vec_rank")))

  /** Stage 5: RRF fusion of the two ≤ [[KEach]]-row sides — the
    * [[Retrieval.hybridRrf]] formula, floor-quantized to 10⁻⁶ (the
    * explicit half-up form; round()'s BigDecimal half-points diverge
    * from DuckDB by 1 ulp — the pairAlignment class). */
  private[operators] def fuse(textTop: DataFrame,
      vecTop: DataFrame): DataFrame = {
    Fence(textTop.join(vecTop, Seq("chunk_id"), "full_outer")
      .select(col("chunk_id"), col("text_rank"), col("vec_rank"),
        rrfScore(col("text_rank"), col("vec_rank")).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("chunk_id"))
      .limit(TopK))
  }

  /** The fused frame's driver projection — rank + the doc/chunk id
    * decomposition. */
  private[operators] def finalProjection(fused: DataFrame): DataFrame =
    fused
      // post-limit window: <= TopK rows
      .withColumn("rank", row_number().over(Window
        .orderBy(col("rrf_score").desc, col("chunk_id"))).cast(LongType))
      .select(col("rank"), col("chunk_id"),
        floor(col("chunk_id") / IdBase).cast(LongType).as("doc_id"),
        pmod(col("chunk_id"), lit(IdBase)).as("chunk_idx"),
        col("text_rank"), col("vec_rank"), col("rrf_score"))
      .orderBy("rank")

  private[operators] def run(spark: SparkSession,
      corpus: DataFrame): Stages = {
    val chunks = chunkStage(corpus)
    val (sparse, norms) = embedStages(chunks)
    val (qSparse, qNorm) = queryVec(spark)
    val (seedVecs, seedNorms) = seedStage(sparse)
    val assigned = assignToSeeds(sparse, norms, seedVecs, seedNorms)
    val probe = probeSeeds(qSparse, qNorm, seedVecs, seedNorms)
    // ---- stage 4+5: the hybrid probe ---------------------------------
    val tf = chunkTf(chunks)
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = chunks.agg(count(lit(1)).as("n_corpus"),
      avg(size(col("ctoks")).cast("double")).as("avgdl"))
    val textTop = textRankQ9(tf, dfTerm, stats)
    // vector side: cosine INSIDE the probed clusters only
    val qDots = sparse.join(broadcast(qSparse), "pos")
      .groupBy("chunk_id").agg(sum(col("v") * col("qv"))
        .cast(LongType).as("d"))
    val cosV = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2q").cast("double"))))
    val vecTop = vecRank(norms.join(assigned, "chunk_id")
      .join(broadcast(probe), "cluster")
      .join(qDots, Seq("chunk_id"), "left")
      .crossJoin(broadcast(qNorm))
      .select(col("chunk_id"), cosV.as("cosv")))
    val fused = fuse(textTop, vecTop)
    Stages(chunks, sparse, assigned, textTop, vecTop, fused)
  }

  /** The fused top-[[TopK]] chunks with both sides' ranks — the RAG
    * probe result a serving stack would return. */
  def retrievalProgram(spark: SparkSession, sfDir: String): DataFrame =
    retrievalProgramFrom(spark, Tables.documents(spark, sfDir))

  def retrievalProgramFrom(spark: SparkSession,
      corpus: DataFrame): DataFrame =
    finalProjection(run(spark, corpus).fused)

  /** The per-stage funnel — (stage_no, stage, n_rows, n_keys) counts a
    * RAG build logs: chunk manifest size, embedded-vector occupancy,
    * full inverted-index postings, coarse-index assignment, per-side
    * candidate counts, fused size. Every count reads a fenced or
    * bounded frame. */
  def retrievalFunnel(spark: SparkSession, sfDir: String): DataFrame =
    retrievalFunnelFrom(spark, Tables.documents(spark, sfDir))

  def retrievalFunnelFrom(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    val st = run(spark, corpus)
    def stage(no: Int, name: String, rows: Column, keys: Column,
        df: DataFrame): DataFrame =
      df.agg(coalesce(rows, lit(0L)).cast(LongType).as("n_rows"),
          coalesce(keys, lit(0L)).cast(LongType).as("n_keys"))
        .select(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
          col("n_rows"), col("n_keys"))
    val postings = st.chunks
      .select(col("chunk_id"), explode(col("ctoks")).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("chunk_id"), col("term")).distinct()
    stage(1, "chunks", count(lit(1)), countDistinct(col("doc_id")),
        st.chunks)
      .unionAll(stage(2, "vectors", count(lit(1)),
        countDistinct(col("chunk_id")), st.sparse))
      .unionAll(stage(3, "postings", count(lit(1)),
        countDistinct(col("term")), postings))
      .unionAll(stage(4, "ivf_assign", count(lit(1)),
        countDistinct(col("cluster")), st.assigned))
      // stage 5 pairs the two sides' candidate counts (1-row x 1-row)
      .unionAll(st.textTop.agg(count(lit(1)).cast(LongType).as("n_rows"))
        .crossJoin(st.vecTop.agg(count(lit(1)).cast(LongType)
          .as("n_keys")))
        .select(lit(5L).as("stage_no"), lit("candidates").as("stage"),
          col("n_rows"), col("n_keys")))
      .unionAll(stage(6, "fused", count(lit(1)),
        sum(when(col("text_rank").isNotNull && col("vec_rank").isNotNull,
          1L).otherwise(0L)), st.fused))
      .orderBy("stage_no")
  }

  // ------------------------------- the DuckDB stage-for-stage replay --

  /** The md5-digit bucket/sign recipes — the strpos replay of
    * [[TextPipeline.hashEmbedEntry]]. */
  private[operators] val BucketSql =
    "CAST(list_sum(list_transform(range(4), dd -> " +
      "CAST(strpos('0123456789abcdef', md5(token)[dd+1:dd+1]) - 1 AS " +
      "BIGINT) * (1::BIGINT << (4*(3-dd))))) % 64 AS BIGINT)"
  private[operators] val SignSql =
    "CASE WHEN strpos('01234567', md5(token)[5:5]) > 0 " +
      "THEN 1 ELSE -1 END"

  /** The nano-quantized per-(row) BM25 sum — [[textRankQ9]]'s SQL form
    * over (tf, dl) rows against (df, n_corpus, avgdl) columns. */
  private[operators] def bm25Sq9Sql: String =
    s"""CAST(sum(CAST(floor(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5)) *
    ((CAST(tf AS DOUBLE) * ${Retrieval.K1 + 1.0}) /
     (CAST(tf AS DOUBLE) + ${Retrieval.K1} * (${1.0 - Retrieval.B} +
       ${Retrieval.B} * CAST(dl AS DOUBLE) / avgdl)))
    * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)"""

  /** The corpus stages as shared CTEs — chunking, embedding, frozen
    * seeds, coarse assignment, plus the text side's token/stat bases.
    * ONE generator feeds the program, funnel, persisted-store, batch,
    * and filtered oracles so the replays cannot drift.
    * Multiply-referenced corpus-sized CTEs are AS MATERIALIZED (the
    * graph_hits lesson: DuckDB inlines multiply-referenced CTEs and
    * re-evaluates). */
  private def corpusCtes: String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ncs AS (SELECT doc_id, toks,
  CASE WHEN len(toks) <= $Win THEN 1
    ELSE ((len(toks) - ${Win - Stride + 1}) // $Stride) + 1 END AS nc
  FROM tk),
chx AS (SELECT doc_id, toks, unnest(range(nc)) AS chunk_idx FROM ncs),
ck AS MATERIALIZED (SELECT doc_id * $IdBase + chunk_idx AS chunk_id,
  doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  toks[chunk_idx*$Stride+1:chunk_idx*$Stride+$Win] AS ctoks FROM chx),
ct AS (SELECT chunk_id, unnest(ctoks) AS token FROM ck),
hb AS (SELECT chunk_id, $BucketSql AS pos, $SignSql AS sgn
  FROM ct WHERE len(token) > 0),
sv AS MATERIALIZED (SELECT chunk_id, pos, CAST(sum(sgn) AS BIGINT) AS v
  FROM hb GROUP BY chunk_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
nn AS MATERIALIZED (SELECT chunk_id, CAST(sum(v*v) AS BIGINT) AS n2
  FROM sv GROUP BY chunk_id),
sd AS (SELECT chunk_id AS seed_chunk,
  CAST(row_number() OVER (ORDER BY chunk_id) - 1 AS BIGINT) AS seed_idx
  FROM (SELECT DISTINCT chunk_id FROM sv ORDER BY chunk_id LIMIT $NSeeds)),
sdv AS MATERIALIZED (SELECT sd.seed_idx, sv.pos, sv.v AS svv
  FROM sd JOIN sv ON sv.chunk_id = sd.seed_chunk),
sdn AS MATERIALIZED (SELECT seed_idx, CAST(sum(svv*svv) AS BIGINT) AS n2s
  FROM sdv GROUP BY seed_idx),
dts AS (SELECT sv.chunk_id, sdv.seed_idx,
  CAST(sum(sv.v * sdv.svv) AS BIGINT) AS d
  FROM sv JOIN sdv ON sv.pos = sdv.pos GROUP BY sv.chunk_id, sdv.seed_idx),
asg AS MATERIALIZED (SELECT chunk_id, seed_idx AS cluster FROM (
  SELECT nn.chunk_id, sdn.seed_idx,
    row_number() OVER (PARTITION BY nn.chunk_id ORDER BY
      (CAST(coalesce(dts.d, 0) AS DOUBLE) /
        (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(sdn.n2s AS DOUBLE))))
      DESC, sdn.seed_idx) AS rn
  FROM nn CROSS JOIN sdn
  LEFT JOIN dts ON dts.chunk_id = nn.chunk_id AND dts.seed_idx = sdn.seed_idx)
  WHERE rn = 1),
btk AS (SELECT chunk_id, CAST(len(ctoks) AS BIGINT) AS dl,
  unnest(ctoks) AS term FROM ck),
bst AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
  avg(CAST(len(ctoks) AS DOUBLE)) AS avgdl FROM ck)"""

  /** The single-query probe stages over [[corpusCtes]] — the
    * [[Retrieval.QueryTerms]] query's embed, probe decision, both
    * ranked sides, and the fused top-[[TopK]]. */
  private def singleQueryCtes: String = {
    val terms = Retrieval.QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""qts AS (SELECT unnest([$terms]) AS token),
qhb AS (SELECT $BucketSql AS pos, $SignSql AS sgn FROM qts
  WHERE len(token) > 0),
qvv AS MATERIALIZED (SELECT pos, CAST(sum(sgn) AS BIGINT) AS qv
  FROM qhb GROUP BY pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
qn AS (SELECT CAST(sum(qv*qv) AS BIGINT) AS n2q FROM qvv),
qsd AS (SELECT sdv.seed_idx, CAST(sum(qvv.qv * sdv.svv) AS BIGINT) AS d
  FROM qvv JOIN sdv ON qvv.pos = sdv.pos GROUP BY sdv.seed_idx),
prb AS (SELECT seed_idx AS cluster FROM sdn
  LEFT JOIN qsd USING (seed_idx), qn
  ORDER BY (CAST(coalesce(qsd.d, 0) AS DOUBLE) /
    (sqrt(CAST(sdn.n2s AS DOUBLE)) * sqrt(CAST(qn.n2q AS DOUBLE))))
    DESC, seed_idx LIMIT $NProbe),
qdt AS (SELECT sv.chunk_id, CAST(sum(sv.v * qvv.qv) AS BIGINT) AS d
  FROM sv JOIN qvv ON sv.pos = qvv.pos GROUP BY sv.chunk_id),
vc AS (SELECT nn.chunk_id,
  (CAST(coalesce(qdt.d, 0) AS DOUBLE) /
    (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(qn.n2q AS DOUBLE)))) AS cosv
  FROM nn JOIN asg ON nn.chunk_id = asg.chunk_id
  JOIN prb ON asg.cluster = prb.cluster
  LEFT JOIN qdt ON qdt.chunk_id = nn.chunk_id, qn),
vr AS MATERIALIZED (SELECT chunk_id,
  CAST(row_number() OVER (ORDER BY cosv DESC, chunk_id) AS BIGINT)
    AS vec_rank
  FROM (SELECT chunk_id, cosv FROM vc ORDER BY cosv DESC, chunk_id
    LIMIT $KEach)),
btf AS (SELECT chunk_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM btk WHERE term IN ($terms) GROUP BY chunk_id, dl, term),
bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY term),
bs AS (SELECT chunk_id, $bm25Sq9Sql AS sq9
  FROM btf JOIN bdf USING (term), bst GROUP BY chunk_id),
tr AS MATERIALIZED (SELECT chunk_id,
  CAST(row_number() OVER (ORDER BY sq9 DESC, chunk_id) AS BIGINT)
    AS text_rank
  FROM (SELECT chunk_id, sq9 FROM bs ORDER BY sq9 DESC, chunk_id
    LIMIT $KEach)),
fsd AS MATERIALIZED (SELECT chunk_id, text_rank, vec_rank, rrf_score
  FROM (SELECT coalesce(tr.chunk_id, vr.chunk_id) AS chunk_id,
    text_rank, vec_rank,
    ${rrfSql("text_rank", "vec_rank")} AS rrf_score
  FROM tr FULL OUTER JOIN vr ON tr.chunk_id = vr.chunk_id)
  ORDER BY rrf_score DESC, chunk_id LIMIT $TopK)"""
  }

  /** The whole single-query chain — [[corpusCtes]] + the query stages
    * (the pre-round-15 chainCtes, reassembled from the shared parts). */
  private def chainCtes: String =
    corpusCtes + ",\n" + singleQueryCtes

  /** The panel's VALUES rows — shared between every panel oracle. */
  private[operators] def panelValuesSql(
      panel: Seq[(Long, Seq[String])]): String =
    panel.flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")

  /** The BATCHED probe stages over [[corpusCtes]] — per-query twins of
    * [[singleQueryCtes]] (p-prefixed): panel embed, per-query probe
    * decision (row_number ≤ nProbe per query), per-query ranked sides
    * (PARTITION BY query_id windows — the oracle's single-phase form of
    * the two-phase Spark windows, equivalent because phase 1 only drops
    * rows that cannot reach a query's top kEach), per-query RRF fuse.
    */
  private def panelCtes(panel: Seq[(Long, Seq[String])],
      nProbe: Int): String = {
    val values = panelValuesSql(panel)
    val unionTerms = panel.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""pq AS (SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS token
  FROM (VALUES $values) v(q, t)),
pqh AS (SELECT query_id, $BucketSql AS pos, $SignSql AS sgn FROM pq
  WHERE len(token) > 0),
pqv AS MATERIALIZED (SELECT query_id, pos, CAST(sum(sgn) AS BIGINT) AS qv
  FROM pqh GROUP BY query_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
pqn AS MATERIALIZED (SELECT query_id, CAST(sum(qv*qv) AS BIGINT) AS n2q
  FROM pqv GROUP BY query_id),
pqsd AS (SELECT pqv.query_id, sdv.seed_idx,
  CAST(sum(pqv.qv * sdv.svv) AS BIGINT) AS d
  FROM pqv JOIN sdv ON pqv.pos = sdv.pos
  GROUP BY pqv.query_id, sdv.seed_idx),
pprb AS MATERIALIZED (SELECT query_id, seed_idx AS cluster FROM (
  SELECT pqn.query_id, sdn.seed_idx,
    row_number() OVER (PARTITION BY pqn.query_id ORDER BY
      (CAST(coalesce(pqsd.d, 0) AS DOUBLE) /
        (sqrt(CAST(sdn.n2s AS DOUBLE)) * sqrt(CAST(pqn.n2q AS DOUBLE))))
      DESC, sdn.seed_idx) AS rn
  FROM pqn CROSS JOIN sdn
  LEFT JOIN pqsd ON pqsd.query_id = pqn.query_id
    AND pqsd.seed_idx = sdn.seed_idx)
  WHERE rn <= $nProbe),
pqdt AS (SELECT pqv.query_id, sv.chunk_id,
  CAST(sum(sv.v * pqv.qv) AS BIGINT) AS d
  FROM sv JOIN pqv ON sv.pos = pqv.pos GROUP BY pqv.query_id, sv.chunk_id),
pvc AS (SELECT pprb.query_id, nn.chunk_id,
  (CAST(coalesce(pqdt.d, 0) AS DOUBLE) /
    (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(pqn.n2q AS DOUBLE)))) AS cosv
  FROM nn JOIN asg ON nn.chunk_id = asg.chunk_id
  JOIN pprb ON asg.cluster = pprb.cluster
  LEFT JOIN pqdt ON pqdt.chunk_id = nn.chunk_id
    AND pqdt.query_id = pprb.query_id
  JOIN pqn ON pqn.query_id = pprb.query_id),
pvr AS MATERIALIZED (SELECT query_id, chunk_id, rk AS vec_rank FROM (
  SELECT query_id, chunk_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cosv DESC, chunk_id) AS BIGINT) AS rk FROM pvc)
  WHERE rk <= $KEach),
pbtf AS (SELECT chunk_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM btk WHERE term IN ($unionTerms) GROUP BY chunk_id, dl, term),
pbdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM pbtf GROUP BY term),
pbs AS (SELECT pq.query_id, pbtf.chunk_id, $bm25Sq9Sql AS sq9
  FROM pbtf JOIN pq ON pbtf.term = pq.token
  JOIN pbdf ON pbtf.term = pbdf.term, bst
  GROUP BY pq.query_id, pbtf.chunk_id),
ptr AS MATERIALIZED (SELECT query_id, chunk_id, rk AS text_rank FROM (
  SELECT query_id, chunk_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY sq9 DESC, chunk_id) AS BIGINT) AS rk FROM pbs)
  WHERE rk <= $KEach),
pfs AS MATERIALIZED (SELECT query_id, chunk_id, text_rank, vec_rank,
  rrf_score, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY rrf_score DESC, chunk_id) AS BIGINT) AS rank FROM (
  SELECT coalesce(ptr.query_id, pvr.query_id) AS query_id,
    coalesce(ptr.chunk_id, pvr.chunk_id) AS chunk_id,
    text_rank, vec_rank,
    ${rrfSql("text_rank", "vec_rank")} AS rrf_score
  FROM ptr FULL OUTER JOIN pvr ON ptr.query_id = pvr.query_id
    AND ptr.chunk_id = pvr.chunk_id)),
pfsk AS (SELECT * FROM pfs WHERE rank <= $TopK)"""
  }

  /** Filtered-probe constants (round 15) — the recency window is docs
    * [[FilterLoDoc]]..[[FilterHiDoc]]) (present at every SF), and the
    * probe widens to [[NProbeFiltered]] clusters to compensate for
    * predicate-removed candidates (the sim_topk_filtered discipline). */
  private[operators] val FilterLoDoc = 40L
  private[operators] val FilterHiDoc = 240L
  private[operators] val NProbeFiltered = NProbe + 1

  /** The FILTERED single-query probe stages over [[corpusCtes]] +
    * [[singleQueryCtes]] (f-prefixed) — the recency-window probe:
    * GLOBAL df/avgdl statistics (the store serves filtered probes
    * without recomputing index statistics — fbs restricts the already
    * globally-scored bs rows), candidates restricted to the chunk
    * range on BOTH sides, probe widened to `nProbe`. */
  private def filteredCtes(loDoc: Long, hiDoc: Long,
      nProbe: Int): String = {
    val lo = loDoc * IdBase
    val hi = hiDoc * IdBase
    s"""fprb AS (SELECT seed_idx AS cluster FROM sdn
  LEFT JOIN qsd USING (seed_idx), qn
  ORDER BY (CAST(coalesce(qsd.d, 0) AS DOUBLE) /
    (sqrt(CAST(sdn.n2s AS DOUBLE)) * sqrt(CAST(qn.n2q AS DOUBLE))))
    DESC, seed_idx LIMIT $nProbe),
fvc AS (SELECT nn.chunk_id,
  (CAST(coalesce(qdt.d, 0) AS DOUBLE) /
    (sqrt(CAST(nn.n2 AS DOUBLE)) * sqrt(CAST(qn.n2q AS DOUBLE)))) AS cosv
  FROM nn JOIN asg ON nn.chunk_id = asg.chunk_id
  JOIN fprb ON asg.cluster = fprb.cluster
  LEFT JOIN qdt ON qdt.chunk_id = nn.chunk_id, qn
  WHERE nn.chunk_id >= $lo AND nn.chunk_id < $hi),
fvr AS MATERIALIZED (SELECT chunk_id,
  CAST(row_number() OVER (ORDER BY cosv DESC, chunk_id) AS BIGINT)
    AS vec_rank
  FROM (SELECT chunk_id, cosv FROM fvc ORDER BY cosv DESC, chunk_id
    LIMIT $KEach)),
fbs AS (SELECT chunk_id, sq9 FROM bs
  WHERE chunk_id >= $lo AND chunk_id < $hi),
ftr AS MATERIALIZED (SELECT chunk_id,
  CAST(row_number() OVER (ORDER BY sq9 DESC, chunk_id) AS BIGINT)
    AS text_rank
  FROM (SELECT chunk_id, sq9 FROM fbs ORDER BY sq9 DESC, chunk_id
    LIMIT $KEach)),
ffs AS MATERIALIZED (SELECT chunk_id, text_rank, vec_rank, rrf_score
  FROM (SELECT coalesce(ftr.chunk_id, fvr.chunk_id) AS chunk_id,
    text_rank, vec_rank,
    ${rrfSql("text_rank", "vec_rank")} AS rrf_score
  FROM ftr FULL OUTER JOIN fvr ON ftr.chunk_id = fvr.chunk_id)
  ORDER BY rrf_score DESC, chunk_id LIMIT $TopK)"""
  }

  /** The DuckDB replay of the FILTERED store probe
    * ([[RetrievalStore.probeRetrievalStoreFiltered]]). */
  private[graft] def retrievalStoreFilteredOracleSql: String =
    s"""WITH
$corpusCtes,
$singleQueryCtes,
${filteredCtes(FilterLoDoc, FilterHiDoc, NProbeFiltered)}
SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, chunk_id)
    AS BIGINT) AS rank,
  chunk_id, chunk_id // $IdBase AS doc_id, chunk_id % $IdBase AS chunk_idx,
  text_rank, vec_rank, rrf_score
FROM ffs ORDER BY rank"""

  /** The chain + panel CTEs the ranker scorecard's store side replays
    * ([[RankerEval.rankerScorecardOracleSql]]) — the SAME generator as
    * [[retrievalStoreBatchOracleSql]], so the scorecard grades exactly
    * the ranking the batch probe serves. */
  private[operators] def scorecardStoreCtes: String =
    corpusCtes + ",\n" + panelCtes(StorePanel, NProbe)

  /** The DuckDB replay of the BATCHED store probe
    * ([[RetrievalStore.probeRetrievalStoreBatch]]) — [[corpusCtes]] +
    * [[panelCtes]] over [[StorePanel]]. */
  private[graft] def retrievalStoreBatchOracleSql: String =
    s"""WITH
$corpusCtes,
${panelCtes(StorePanel, NProbe)}
SELECT query_id, rank, chunk_id, chunk_id // $IdBase AS doc_id,
  chunk_id % $IdBase AS chunk_idx, text_rank, vec_rank, rrf_score
FROM pfsk ORDER BY query_id, rank"""

  private[graft] def retrievalProgramOracleSql: String =
    s"""WITH
$chainCtes
SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, chunk_id)
    AS BIGINT) AS rank,
  chunk_id, chunk_id // $IdBase AS doc_id, chunk_id % $IdBase AS chunk_idx,
  text_rank, vec_rank, rrf_score
FROM fsd ORDER BY rank"""


  /** The [[RetrievalStore.storeStats]] replay — the same chain CTEs
    * compute each artifact's row count, key count, and exact integer
    * checksum (store contents ≡ the chain's stage artifacts, summed):
    * chunkmeta ≙ ck (sum dl), vectors/norms ≙ sv/nn (sum v², sum n2),
    * postings ≙ the non-empty (chunk, term, tf) groups (sum tf = the
    * non-empty token count), assignment ≙ asg (sum chunk·(cluster+1)).
    */
  private[graft] def retrievalStoreStatsOracleSql: String =
    s"""WITH
$chainCtes,
pst AS (SELECT chunk_id, token AS term, CAST(count(*) AS BIGINT) AS tf
  FROM ct WHERE len(token) > 0 GROUP BY chunk_id, token)
SELECT 'assign' AS artifact,
  (SELECT CAST(count(*) AS BIGINT) FROM asg) AS n_rows,
  (SELECT CAST(count(DISTINCT cluster) AS BIGINT) FROM asg) AS n_keys,
  (SELECT CAST(coalesce(sum(chunk_id * (cluster + 1)), 0) AS BIGINT)
    FROM asg) AS checksum
UNION ALL SELECT 'chunkmeta',
  (SELECT CAST(count(*) AS BIGINT) FROM ck),
  (SELECT CAST(count(DISTINCT chunk_id) AS BIGINT) FROM ck),
  (SELECT CAST(coalesce(sum(len(ctoks)), 0) AS BIGINT) FROM ck)
UNION ALL SELECT 'norms',
  (SELECT CAST(count(*) AS BIGINT) FROM nn),
  (SELECT CAST(count(DISTINCT chunk_id) AS BIGINT) FROM nn),
  (SELECT CAST(coalesce(sum(n2), 0) AS BIGINT) FROM nn)
UNION ALL SELECT 'postings',
  (SELECT CAST(count(*) AS BIGINT) FROM pst),
  (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM pst),
  (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) FROM pst)
UNION ALL SELECT 'vectors',
  (SELECT CAST(count(*) AS BIGINT) FROM sv),
  (SELECT CAST(count(DISTINCT chunk_id) AS BIGINT) FROM sv),
  (SELECT CAST(coalesce(sum(v * v), 0) AS BIGINT) FROM sv)
ORDER BY artifact"""

  private[graft] def retrievalFunnelOracleSql: String =
    s"""WITH
$chainCtes
SELECT CAST(1 AS BIGINT) AS stage_no, 'chunks' AS stage,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys FROM ck
UNION ALL SELECT CAST(2 AS BIGINT), 'vectors', CAST(count(*) AS BIGINT),
  CAST(count(DISTINCT chunk_id) AS BIGINT) FROM sv
UNION ALL SELECT CAST(3 AS BIGINT), 'postings', CAST(count(*) AS BIGINT),
  CAST(count(DISTINCT term) AS BIGINT) FROM (
    SELECT DISTINCT chunk_id, term FROM (
      SELECT chunk_id, unnest(ctoks) AS term FROM ck) WHERE len(term) > 0)
UNION ALL SELECT CAST(4 AS BIGINT), 'ivf_assign', CAST(count(*) AS BIGINT),
  CAST(count(DISTINCT cluster) AS BIGINT) FROM asg
UNION ALL SELECT CAST(5 AS BIGINT), 'candidates',
  (SELECT CAST(count(*) AS BIGINT) FROM tr),
  (SELECT CAST(count(*) AS BIGINT) FROM vr)
UNION ALL SELECT CAST(6 AS BIGINT), 'fused', CAST(count(*) AS BIGINT),
  CAST(coalesce(sum(CASE WHEN text_rank IS NOT NULL AND
    vec_rank IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM fsd
ORDER BY stage_no"""
}
