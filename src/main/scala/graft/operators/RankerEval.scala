package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Production-ranker quality scorecard (round 15) — NDCG@k / MRR /
  * recall@k of FOUR rankers against ONE shared graded qrels, one row
  * per (ranker, query):
  *
  *  - `tfidf`       — the batched TF-IDF panel ranking
  *                    ([[Retrieval.indexTopKBatch]]).
  *  - `bm25_index`  — the persisted text index's BM25 batch probe
  *                    ([[PersistedIndex.searchTextIndexBm25Batch]] over
  *                    the session store — the ranking `bm25_store`
  *                    serves).
  *  - `hybrid`      — the RRF fusion of the TF-IDF text rank with a
  *                    hash-embedding cosine rank (the
  *                    [[RetrievalProgram]] hybrid recipe at doc level).
  *  - `store`       — the persisted retrieval store's batched probe
  *                    ([[RetrievalStore.probeRetrievalStoreBatch]]),
  *                    chunk results mapped to docs by best chunk rank.
  *
  * The relevance grade is INDEPENDENT of every ranker's scoring signal
  * (the round-14 scorecard graded by n_terms_hit — the same term-match
  * count TF-IDF ranks by, so it was structurally biased high): grade =
  * the cosine bucket between the doc's and the query's hash embeddings
  * under a SECOND hash recipe (md5 hex digits 6–9 → bucket, digit 10 →
  * sign; the rankers' seed-A recipe uses digits 1–4 and 5). Both
  * projections approximate the same term-space similarity, so the grade
  * tracks true relevance, but NO ranker ranks by it — a degraded ranker
  * scores measurably lower (spec-pinned by [[RankerEvalSpec]] feeding a
  * reversed ranking through [[scoreRankings]]).
  *
  * Exactness: grades come from integer comparisons (d > 0 and
  * 400·d² ≥ t²·400·n2·n2q for thresholds t ∈ {0.25, 0.35, 0.45} — all
  * BIGINT, no float divides), gains are 2^grade − 1, DCG/MRR use the
  * [[Retrieval.DcgWeightsQ9]]/[[Retrieval.MrrWeightsQ6]] embedded
  * literals, and every ratio is ONE floor-quantized division — the
  * DuckDB replay is bit-identical.
  *
  * Scale shape: the qrels is one corpus scan (seed-B embed per doc,
  * broadcast query vectors, pos-keyed broadcast join, map-side-combined
  * (query, doc) dot agg), fenced once for its three consumers (grading
  * join, ideal ranking, n_rel); each ranker is its own bounded top-k
  * plan (term-filtered scans + two-phase windows, or a persisted-store
  * probe); the ideal ranking uses the same two-phase (query, shard)
  * window as every other top-k in the engine.
  */
object RankerEval {

  import Retrieval.{DcgWeightsQ9, EvalK, MrrWeightsQ6, QueryPanel}

  /** Ranker ids, alphabetical (the output order). */
  private[operators] val Rankers =
    Seq("bm25_index", "hybrid", "store", "tfidf")


  // ---------------------------------------- the independent grade (B) --

  /** Seed-B bucket: md5 hex digits 6–9 (seed A uses 1–4). */
  private[graft] def gradeBucket(t: Column): Column =
    pmod(conv(substring(md5(t), 6, 4), 16, 10).cast(LongType), lit(64L))

  /** Seed-B sign: md5 hex digit 10 (seed A uses 5). */
  private[graft] def gradeSign(t: Column): Column =
    when(substring(md5(t), 10, 1).isin(
      "0", "1", "2", "3", "4", "5", "6", "7"), lit(1L)).otherwise(lit(-1L))

  /** Per-doc sparse signed embedding under a 1-based md5-hex recipe
    * offset pair — (doc_id, pos, v) + (doc_id, n2), both fenced (two
    * consumers each). Round 16: each doc's dense 64-vector folds
    * IN-EXPRESSION via the native [[graft.expressions.HashEmbed64]]
    * (one md5 per token, one accumulator) and re-sparsifies in the same
    * projection — the previous explode + (doc, pos)-keyed aggregation
    * shuffled every token's bucket row and computed md5 twice per
    * token. Row set identical (spec-pinned recipe). */
  private def docVecs(corpus: DataFrame, bucketStart: Int,
      signPos: Int): (DataFrame, DataFrame) = {
    graft.expressions.VectorExpressions.register(corpus.sparkSession)
    val vecs = Fence(corpus
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .hashEmbed64NativeAt(tokens(col("text")), bucketStart, signPos)
        .as("dense"))
      .select(col("doc_id"), posexplode(col("dense")).as(Seq("pos", "v")))
      .filter(col("v") =!= 0L)
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        col("v")))
    val norms = vecs.groupBy("doc_id")
      .agg(sum(col("v") * col("v")).cast(LongType).as("n2"))
    (vecs, norms)
  }

  /** Per-query sparse embedding of a panel under a recipe — tiny
    * (query_id, pos, qv) + (query_id, n2q), always broadcast. */
  private def panelVecsUnder(spark: SparkSession,
      panel: Seq[(Long, Seq[String])], bucket: Column => Column,
      sign: Column => Column): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qv = panel.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "token")
      .filter(length(col("token")) > 0)
      .select(col("query_id"), bucket(col("token")).as("pos"),
        sign(col("token")).as("sgn"))
      .groupBy("query_id", "pos").agg(sum(col("sgn")).as("qv"))
      .filter(col("qv") =!= 0L)
    val qn = qv.groupBy("query_id")
      .agg(sum(col("qv") * col("qv")).cast(LongType).as("n2q"))
    (qv, qn)
  }

  /** The graded qrels — (query_id, doc_id, grade ∈ 1..3) for every doc
    * whose seed-B cosine with the query crosses 0.25 / 0.35 / 0.45
    * (exact integer threshold compares), fenced for its three
    * consumers. */
  private[graft] def qrelsFrom(spark: SparkSession, corpus: DataFrame,
      panel: Seq[(Long, Seq[String])]): DataFrame = {
    val (dVec, dN) = docVecs(corpus, 6, 10) // seed B: hex digits 6-9, 10
    val (qVec, qN) = panelVecsUnder(spark, panel, gradeBucket, gradeSign)
    val dots = dVec.join(broadcast(qVec), "pos")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("qv")).cast(LongType).as("d"))
    val dd400 = col("d") * col("d") * lit(400L)
    val nn = col("n2") * col("n2q")
    Fence(dots.join(dN, "doc_id").join(broadcast(qN), "query_id")
      .withColumn("grade",
        when(col("d") > 0L && dd400 >= lit(81L) * nn, 3L)
          .when(col("d") > 0L && dd400 >= lit(49L) * nn, 2L)
          .when(col("d") > 0L && dd400 >= lit(25L) * nn, 1L)
          .otherwise(0L))
      .filter(col("grade") > 0L)
      .select(col("query_id"), col("doc_id"), col("grade")))
  }

  // ------------------------------------------------- the four rankers --

  /** The `hybrid` ranking: per-query RRF fusion of the TF-IDF text rank
    * (top `kEach`) with the seed-A hash-embedding cosine rank (top
    * `kEach`) — the [[RetrievalProgram.fuse]] formula at doc level. */
  private[operators] def hybridRanking(spark: SparkSession,
      corpus: DataFrame, panel: Seq[(Long, Seq[String])], kEach: Int,
      k: Int): DataFrame =
    hybridRankingFromText(spark, corpus, panel,
      Fence(Retrieval.indexTopKBatchFrom(spark, corpus, panel, kEach)
        .select(col("query_id"), col("rank"), col("doc_id"))), kEach, k)

  /** [[hybridRanking]] over an ALREADY-FENCED text top-kEach frame of
    * (query_id, rank, doc_id) — the [[rankings]] seam (round 16): the
    * TF-IDF panel ranking is computed ONCE and serves both the `tfidf`
    * ranker (filter rank ≤ k; the two-phase windows assign identical
    * ranks at any k, so the top-k rows of the top-kEach frame ARE the
    * top-k ranking) and the hybrid's text side — previously two full
    * term-filtered corpus scoring subtrees. */
  private[operators] def hybridRankingFromText(spark: SparkSession,
      corpus: DataFrame, panel: Seq[(Long, Seq[String])],
      textTopFenced: DataFrame, kEach: Int, k: Int): DataFrame = {
    val textTop = textTopFenced
      .select(col("query_id"), col("doc_id"),
        col("rank").as("text_rank"))
    val (dVec, dN) = docVecs(corpus, 1, 5) // seed A: the engine recipe
    val (qVec, qN) = panelVecsUnder(spark, panel,
      TextPipeline.hashEmbedBucket, TextPipeline.hashEmbedSign)
    val dots = dVec.join(broadcast(qVec), "pos")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("qv")).cast(LongType).as("d"))
    val cosV = (coalesce(col("d"), lit(0L)).cast("double")
      / (sqrt(col("n2").cast("double")) * sqrt(col("n2q").cast("double"))))
    val scored = dN.crossJoin(broadcast(qN))
      .join(dots, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), cosV.as("cosv"))
    val byCos = Seq(col("cosv").desc, col("doc_id"))
    val vecTop = Fence(scored
      .withColumn("srk", row_number().over(Window
        .partitionBy(col("query_id"), pmod(col("doc_id"), lit(8)))
        .orderBy(byCos: _*)))
      .filter(col("srk") <= kEach)
      .withColumn("vec_rank", row_number().over(Window
        .partitionBy("query_id").orderBy(byCos: _*)).cast(LongType))
      .filter(col("vec_rank") <= kEach)
      .select(col("query_id"), col("doc_id"), col("vec_rank")))
    textTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        RetrievalProgram.rrfScore(col("text_rank"), col("vec_rank"))
          .as("rrf_score"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_score").desc, col("doc_id"))).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** The `store` ranking: the batched retrieval-store probe's chunks
    * mapped to docs by best (minimum) chunk rank per (query, doc). */
  private[operators] def storeRanking(storeProbe: DataFrame,
      panel: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    val panelIds = panel.map(_._1)
    storeProbe
      .filter(col("query_id").isInCollection(panelIds))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("rank")).as("crank"))
      // post-limit numbering: ≤ TopK chunk rows per query
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("crank"), col("doc_id"))).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** All four rankers' top-[[Retrieval.EvalK]] lists, stacked as
    * (ranker, query_id, rank, doc_id). */
  private[graft] def rankings(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = Tables.documents(spark, sfDir)
    // ONE TF-IDF panel scoring pass (round 16): the fenced top-KEach
    // frame serves the `tfidf` ranker (rank ≤ EvalK — identical rows to
    // a direct top-EvalK run, see hybridRankingFromText) AND the
    // hybrid's text side; previously each built its own term-filtered
    // corpus scoring subtree.
    val textTop20 = Fence(Retrieval.indexTopKBatchFrom(spark, corpus,
        QueryPanel, RetrievalProgram.KEach)
      .select(col("query_id"), col("rank"), col("doc_id")))
    val tfidf = textTop20.filter(col("rank") <= EvalK)
      .select(lit("tfidf").as("ranker"), col("query_id"), col("rank"),
        col("doc_id"))
    val panelDf = QueryPanel
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val bm25 = PersistedIndex.searchTextIndexBm25Batch(spark,
        PersistedIndex.sessionTextIndex(spark, sfDir), panelDf, EvalK)
      .select(lit("bm25_index").as("ranker"), col("query_id"), col("rank"),
        col("doc_id"))
    val hybrid = hybridRankingFromText(spark, corpus, QueryPanel,
        textTop20, RetrievalProgram.KEach, EvalK)
      .select(lit("hybrid").as("ranker"), col("query_id"), col("rank"),
        col("doc_id"))
    val store = storeRanking(
        RetrievalStore.retrievalBatchFromSessionStore(spark, sfDir),
        QueryPanel, EvalK)
      .select(lit("store").as("ranker"), col("query_id"), col("rank"),
        col("doc_id"))
    tfidf.unionAll(bm25).unionAll(hybrid).unionAll(store)
  }

  // ------------------------------------------------------- the scoring --

  /** Score any (ranker, query_id, rank, doc_id) lists against a
    * (query_id, doc_id, grade) qrels — THE scorecard core, shared by
    * the driver query and the grade-independence spec (which feeds a
    * deliberately degraded ranking through it). */
  private[graft] def scoreRankings(rankings: DataFrame,
      qrels: DataFrame, k: Int): DataFrame = {
    require(k <= EvalK, s"k=$k exceeds the embedded weight tables ($EvalK)")
    val gain = when(col("grade") === 1L, 1L)
      .when(col("grade") === 2L, 3L)
      .when(col("grade") === 3L, 7L).otherwise(lit(0L))
    val wq = DcgWeightsQ9.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (w, i)) =>
        when(col("rank") === (i + 1).toLong, lit(w)).otherwise(acc)
    }
    // fence: the rankings frame is ≤ #rankers·#queries·k rows and has
    // TWO consumers (the grading join and the ranker grid) — unfenced,
    // the grid's distinct would re-plan every ranker's whole subtree
    // (measured: 22 → 41 exchanges)
    val rks = Fence(rankings)
    val graded = rks.join(qrels, Seq("query_id", "doc_id"), "left")
      .withColumn("grade", coalesce(col("grade"), lit(0L)))
    val retrieved = graded.groupBy("ranker", "query_id")
      .agg(sum(gain * wq).cast(LongType).as("dcg_q9"),
        sum(when(col("grade") >= 2L, 1L).otherwise(0L))
          .cast(LongType).as("n_hits_rel"),
        min(when(col("grade") >= 2L, col("rank"))).as("first_rel_rank"))
    // ideal ranking straight from the qrels — two-phase (query, shard)
    val byGrade = Seq(col("grade").desc, col("doc_id"))
    val ideal = qrels
      .withColumn("srk", row_number().over(Window
        .partitionBy(col("query_id"), pmod(col("doc_id"), lit(8)))
        .orderBy(byGrade: _*)))
      .filter(col("srk") <= k)
      .withColumn("rank", row_number().over(Window
        .partitionBy("query_id").orderBy(byGrade: _*)).cast(LongType))
      .filter(col("rank") <= k)
      .groupBy("query_id")
      .agg(sum(gain * wq).cast(LongType).as("idcg_q9"))
    val rel = qrels.groupBy("query_id")
      .agg(sum(when(col("grade") >= 2L, 1L).otherwise(0L))
        .cast(LongType).as("n_rel"))
    val mrr = MrrWeightsQ6.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (w, i)) =>
        when(col("first_rel_rank") === (i + 1).toLong, lit(w)).otherwise(acc)
    }
    // full (ranker, query) grid — every ranker in `rankings` × every
    // query with a qrels row: a ranker that retrieves NOTHING for a
    // query must score an explicit 0, not vanish from the scorecard
    // (round-15 review finding — empty results are the worst-case
    // regression, exactly the one the scorecard must show as zero).
    // Both frames are panel-bounded; the pairing is #rankers × #queries.
    val grid = rks.select(col("ranker")).distinct().crossJoin(rel)
    grid.join(retrieved, Seq("ranker", "query_id"), "left")
      .withColumn("dcg_q9", coalesce(col("dcg_q9"), lit(0L)))
      .withColumn("n_hits_rel", coalesce(col("n_hits_rel"), lit(0L)))
      .join(ideal, "query_id")
      .select(col("ranker"), col("query_id"),
        col("n_rel"), col("n_hits_rel"),
        when(col("n_rel") > 0L,
          floor(col("n_hits_rel").cast("double")
            / col("n_rel").cast("double") * 1000000d + 0.5d)
            .cast(LongType)).as("recall_q6"),
        when(col("first_rel_rank").isNotNull, mrr).otherwise(lit(0L))
          .as("mrr_q6"),
        col("dcg_q9"), col("idcg_q9"),
        when(col("idcg_q9") > 0L,
          floor(col("dcg_q9").cast("double")
            / col("idcg_q9").cast("double") * 1000000d + 0.5d)
            .cast(LongType)).as("ndcg_q6"))
      .orderBy("ranker", "query_id")
  }

  /** A deliberately DEGRADED ranker for the grade-independence spec —
    * the TF-IDF panel scoring inverted (each query's k LOWEST-scoring
    * matching docs, ascending). A grade that tracked the rankers' own
    * term-match signal could still rank this "plausible" (it only sees
    * term-matching docs); the seed-B grade must score it strictly
    * lower than the true ranking direction. */
  private[graft] def degradedRanking(spark: SparkSession,
      corpus: DataFrame, panel: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    val byScoreAsc = Seq(col("score").asc, col("doc_id"))
    Retrieval.panelScoredFrom(spark, corpus, panel)
      .withColumn("srk", row_number().over(Window
        .partitionBy(col("query_id"), pmod(col("doc_id"), lit(8)))
        .orderBy(byScoreAsc: _*)))
      .filter(col("srk") <= k)
      .withColumn("rank", row_number().over(Window
        .partitionBy("query_id").orderBy(byScoreAsc: _*)).cast(LongType))
      .filter(col("rank") <= k)
      .select(lit("degraded").as("ranker"), col("query_id"), col("rank"),
        col("doc_id"))
  }

  /** The driver surface — all four production rankers scored against
    * the shared seed-B qrels. */
  def rankerScorecard(spark: SparkSession, sfDir: String): DataFrame =
    scoreRankings(rankings(spark, sfDir),
      qrelsFrom(spark, Tables.documents(spark, sfDir), QueryPanel), EvalK)

  // ---------------------------------------------- the DuckDB replay ----

  private def bucketSqlB =
    "CAST(list_sum(list_transform(range(4), dd -> " +
      "CAST(strpos('0123456789abcdef', md5(token)[dd+6:dd+6]) - 1 AS " +
      "BIGINT) * (1::BIGINT << (4*(3-dd))))) % 64 AS BIGINT)"
  private def signSqlB =
    "CASE WHEN strpos('01234567', md5(token)[10:10]) > 0 " +
      "THEN 1 ELSE -1 END"

  /** The gain CASE shared by the retrieved and ideal sides. */
  private def gainSql = "CASE grade WHEN 1 THEN 1 WHEN 2 THEN 3 " +
    "WHEN 3 THEN 7 ELSE 0 END"

  /** The DCG discount / reciprocal-rank CASE literals. */
  private def wCasesSql = DcgWeightsQ9.zipWithIndex.map { case (w, i) =>
    s"WHEN ${i + 1} THEN CAST($w AS BIGINT)"
  }.mkString(" ")
  private def mrrCasesSql = MrrWeightsQ6.zipWithIndex.map { case (w, i) =>
    s"WHEN ${i + 1} THEN CAST($w AS BIGINT)"
  }.mkString(" ")

  /** Shared CTE block — the seed-B qrels (t..qr) + the TF-IDF panel
    * scoring (stf..sts) and its ranked list (rt, top-kEach) — used by
    * BOTH the scorecard and drift replays (one generator, the qrels
    * cannot drift between them). */
  private def qrelsTfidfCtes: String = {
    val kEach = RetrievalProgram.KEach
    val values = RetrievalProgram.panelValuesSql(QueryPanel)
    val terms = QueryPanel.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents),
gvb AS MATERIALIZED (SELECT doc_id, pos, CAST(sum(sgn) AS BIGINT) AS v
  FROM (SELECT doc_id, $bucketSqlB AS pos, $signSqlB AS sgn FROM t
    WHERE len(token) > 0)
  GROUP BY doc_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
gnb AS (SELECT doc_id, CAST(sum(v*v) AS BIGINT) AS n2 FROM gvb
  GROUP BY doc_id),
gq AS (SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS token
  FROM (VALUES $values) v(q, t)),
gqv AS MATERIALIZED (SELECT query_id, pos, CAST(sum(sgn) AS BIGINT) AS qv
  FROM (SELECT query_id, $bucketSqlB AS pos, $signSqlB AS sgn FROM gq
    WHERE len(token) > 0)
  GROUP BY query_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
gqn AS (SELECT query_id, CAST(sum(qv*qv) AS BIGINT) AS n2q FROM gqv
  GROUP BY query_id),
gd AS (SELECT gqv.query_id, gvb.doc_id,
  CAST(sum(gvb.v * gqv.qv) AS BIGINT) AS d
  FROM gvb JOIN gqv ON gvb.pos = gqv.pos GROUP BY gqv.query_id, gvb.doc_id),
qr AS MATERIALIZED (SELECT query_id, doc_id, CAST(grade AS BIGINT) AS grade
  FROM (SELECT query_id, doc_id,
    CASE WHEN d > 0 AND d*d*400 >= 81*n2*n2q THEN 3
         WHEN d > 0 AND d*d*400 >= 49*n2*n2q THEN 2
         WHEN d > 0 AND d*d*400 >= 25*n2*n2q THEN 1 ELSE 0 END AS grade
  FROM gd JOIN gnb USING (doc_id) JOIN gqn USING (query_id))
  WHERE grade > 0),
stf AS (SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
  FROM t WHERE token IN ($terms) GROUP BY doc_id, token),
sdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM stf
  GROUP BY term),
snc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
sts AS MATERIALIZED (SELECT query_id, doc_id,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4)
    AS score
  FROM stf JOIN gq ON stf.term = gq.token JOIN sdf USING (term), snc
  GROUP BY query_id, doc_id),
rt AS MATERIALIZED (SELECT query_id, rank, doc_id FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sts)
  WHERE rank <= $kEach)"""
  }

  /** The full scorecard replay: seed-B qrels, the four rankers' top-k
    * CTEs (TF-IDF panel; BM25 panel with the store's round-4 score;
    * doc-level hybrid RRF; the [[RetrievalProgram]] panel chain's store
    * probe mapped to docs), and the shared scoring tail with the SAME
    * embedded gain/discount/reciprocal literals. */
  private[graft] def rankerScorecardOracleSql: String = {
    val k = EvalK
    val kEach = RetrievalProgram.KEach
    val wCases = wCasesSql
    val mrrCases = mrrCasesSql
    val bucketA = RetrievalProgram.BucketSql
    val signA = RetrievalProgram.SignSql
    s"""WITH
${RetrievalProgram.scorecardStoreCtes},
$qrelsTfidfCtes,
sdl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents),
sst AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents),
sbs AS (SELECT query_id, stf.doc_id,
  round(sum(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5)) *
    (CAST(tf AS DOUBLE) * ${Retrieval.K1 + 1.0}) /
    (CAST(tf AS DOUBLE) + ${Retrieval.K1} * (${1.0 - Retrieval.B} +
      ${Retrieval.B} * CAST(dl AS DOUBLE) / avgdl))), 4) AS score
  FROM stf JOIN gq ON stf.term = gq.token JOIN sdf USING (term)
  JOIN sdl ON stf.doc_id = sdl.doc_id, sst
  GROUP BY query_id, stf.doc_id),
rb AS (SELECT query_id, rank, doc_id FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sbs)
  WHERE rank <= $k),
hva AS MATERIALIZED (SELECT doc_id, pos, CAST(sum(sgn) AS BIGINT) AS v
  FROM (SELECT doc_id, $bucketA AS pos, $signA AS sgn FROM t
    WHERE len(token) > 0)
  GROUP BY doc_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
hna AS (SELECT doc_id, CAST(sum(v*v) AS BIGINT) AS n2 FROM hva
  GROUP BY doc_id),
hqa AS MATERIALIZED (SELECT query_id, pos, CAST(sum(sgn) AS BIGINT) AS qv
  FROM (SELECT query_id, $bucketA AS pos, $signA AS sgn FROM gq
    WHERE len(token) > 0)
  GROUP BY query_id, pos HAVING CAST(sum(sgn) AS BIGINT) <> 0),
hqn AS (SELECT query_id, CAST(sum(qv*qv) AS BIGINT) AS n2q FROM hqa
  GROUP BY query_id),
hd AS (SELECT hqa.query_id, hva.doc_id,
  CAST(sum(hva.v * hqa.qv) AS BIGINT) AS d
  FROM hva JOIN hqa ON hva.pos = hqa.pos GROUP BY hqa.query_id, hva.doc_id),
hv AS (SELECT hqn.query_id, hna.doc_id,
  (CAST(coalesce(hd.d, 0) AS DOUBLE) /
    (sqrt(CAST(hna.n2 AS DOUBLE)) * sqrt(CAST(hqn.n2q AS DOUBLE)))) AS cosv
  FROM hna CROSS JOIN hqn
  LEFT JOIN hd ON hd.doc_id = hna.doc_id AND hd.query_id = hqn.query_id),
hvr AS MATERIALIZED (SELECT query_id, doc_id, rk AS vec_rank FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cosv DESC, doc_id) AS BIGINT) AS rk FROM hv)
  WHERE rk <= $kEach),
rh AS (SELECT query_id, rank, doc_id FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank FROM (
    SELECT coalesce(rt.query_id, hvr.query_id) AS query_id,
      coalesce(rt.doc_id, hvr.doc_id) AS doc_id,
      ${RetrievalProgram.rrfSql("rt.rank", "vec_rank")} AS rrf_score
    FROM rt FULL OUTER JOIN hvr ON rt.query_id = hvr.query_id
      AND rt.doc_id = hvr.doc_id))
  WHERE rank <= $k),
rs AS (SELECT query_id, rank, doc_id FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY crank, doc_id) AS BIGINT) AS rank FROM (
    SELECT query_id, chunk_id // ${RetrievalProgram.IdBase} AS doc_id,
      min(rank) AS crank
    FROM pfsk WHERE query_id <= ${QueryPanel.map(_._1).max}
    GROUP BY query_id, chunk_id // ${RetrievalProgram.IdBase}))
  WHERE rank <= $k),
rks AS (
  SELECT 'tfidf' AS ranker, query_id, rank, doc_id FROM rt WHERE rank <= $k
  UNION ALL SELECT 'bm25_index', query_id, rank, doc_id FROM rb
  UNION ALL SELECT 'hybrid', query_id, rank, doc_id FROM rh
  UNION ALL SELECT 'store', query_id, rank, doc_id FROM rs),
gr2 AS (SELECT ranker, query_id, rank, coalesce(grade, 0) AS grade
  FROM rks LEFT JOIN qr USING (query_id, doc_id)),
ret AS (SELECT ranker, query_id,
  CAST(sum(($gainSql) * (CASE rank $wCases END)) AS BIGINT) AS dcg_q9,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hits_rel,
  min(CASE WHEN grade >= 2 THEN rank END) AS first_rel_rank
  FROM gr2 GROUP BY ranker, query_id),
ik AS (SELECT query_id, rank, grade FROM (
  SELECT query_id, grade, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY grade DESC, doc_id) AS BIGINT) AS rank FROM qr)
  WHERE rank <= $k),
idl AS (SELECT query_id,
  CAST(sum(($gainSql) * (CASE rank $wCases END)) AS BIGINT) AS idcg_q9
  FROM ik GROUP BY query_id),
rel AS (SELECT query_id,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
  FROM qr GROUP BY query_id),
rkr AS (SELECT DISTINCT ranker FROM rks),
grd AS (SELECT ranker, query_id, n_rel FROM rkr CROSS JOIN rel)
SELECT grd.ranker AS ranker, grd.query_id AS query_id, n_rel,
  coalesce(n_hits_rel, CAST(0 AS BIGINT)) AS n_hits_rel,
  CASE WHEN n_rel > 0 THEN CAST(floor(
    CAST(coalesce(n_hits_rel, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(n_rel AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS recall_q6,
  CASE WHEN first_rel_rank IS NOT NULL
    THEN (CASE first_rel_rank $mrrCases END)
    ELSE CAST(0 AS BIGINT) END AS mrr_q6,
  coalesce(dcg_q9, CAST(0 AS BIGINT)) AS dcg_q9, idcg_q9,
  CASE WHEN idcg_q9 > 0 THEN CAST(floor(
    CAST(coalesce(dcg_q9, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(idcg_q9 AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS ndcg_q6
FROM grd LEFT JOIN ret
  ON grd.ranker = ret.ranker AND grd.query_id = ret.query_id
JOIN idl ON grd.query_id = idl.query_id
ORDER BY ranker, query_id"""
  }

  // ------------------------------- the drift gate (round 15, #5) -------

  /** Per-metric drift above this many micro-units flags the row. */
  private[graft] val DriftFlagQ6 = 100000L

  /** The long (component, metric, value) form of a scorecard — the unit
    * [[appendScorecard]] persists: component = "ranker/qN", one row per
    * non-null ratio metric. */
  private[graft] def scorecardLong(sc: DataFrame): DataFrame = {
    val component = concat(col("ranker"), lit("/q"),
      col("query_id").cast("string")).as("component")
    Seq("ndcg_q6", "mrr_q6", "recall_q6").map { m =>
      sc.select(component, lit(m).as("metric"), col(m).as("value"))
    }.reduce(_.unionAll(_)).filter(col("value").isNotNull)
  }

  /** Persist one release's scorecard under [[StoreVersioning]] — an
    * immutable row-bounded segment per release (kind "rel"). By default
    * every prior release stays live (the quality HISTORY is the store's
    * content); `historyKeep` bounds the window — the new version
    * references only the latest `historyKeep` releases, so a later
    * [[PersistedIndex.retainStore]]("scorecard") sweep can physically
    * drop segments no surviving version references. Returns the
    * published version. */
  def appendScorecard(spark: SparkSession, scorecard: DataFrame,
      path: String, historyKeep: Int = Int.MaxValue): Long = {
    require(historyKeep >= 2,
      s"appendScorecard: historyKeep=$historyKeep < 2 would leave the " +
        "drift gate without a previous release to diff against")
    val prev = StoreVersioning.latestVersion(spark, s"$path/manifest")
    val live = // the first release starts an empty history
      if (prev == 0L) Seq.empty[String]
      else StoreVersioning.liveTokens(spark, s"$path/manifest")("rel")
    val v = prev + 1
    val token = f"r$v%04d" // zero-padded: lexicographic == numeric order
    scorecard.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/releases/ingest=$token")
    StoreVersioning.commitTokens(spark, s"$path/manifest",
      (live :+ token).takeRight(historyKeep).map(("rel", _)))
    v
  }

  /** Per-metric delta of the latest release vs the previous one — the
    * `dist_drift` discipline applied to the engine's own quality
    * history: a row per (component, metric) with both values, the
    * delta, and a flag when the metric moved ≥ [[DriftFlagQ6]]
    * micro-units (or appeared/disappeared). */
  def scorecardDrift(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val live =
      StoreVersioning.liveTokens(spark, s"$path/manifest", version)("rel")
    require(live.size >= 2,
      s"scorecardDrift($path): needs >= 2 releases, found ${live.size}")
    val releases = spark.read.parquet(s"$path/releases")
    def rel(token: String, as: String): DataFrame =
      releases.filter(col("ingest") === token)
        .select(col("component"), col("metric"), col("value").as(as))
    val delta = col("cur_value") - col("prev_value")
    rel(live(live.size - 2), "prev_value")
      .join(rel(live.last, "cur_value"), Seq("component", "metric"),
        "full_outer")
      .select(col("component"), col("metric"), col("prev_value"),
        col("cur_value"), delta.as("delta"),
        (col("prev_value").isNull || col("cur_value").isNull ||
          abs(delta) >= lit(DriftFlagQ6)).as("flagged"))
      .orderBy("component", "metric")
  }

  /** The drift gate as a driver surface: release 1 is the true TF-IDF
    * panel scorecard, release 2 the DEGRADED (score-ascending) ranking
    * published under the same component names — the synthetic
    * regression the gate exists to flag. Cached per (app, sfDir). */
  def driftFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val p = SessionCache.directory(spark, "graft-scorecard-store",
        sfDir) { path =>
      val corpus = Tables.documents(spark, sfDir)
      val qrels = qrelsFrom(spark, corpus, QueryPanel)
      val truth = Retrieval
        .indexTopKBatchFrom(spark, corpus, QueryPanel, EvalK)
        .select(lit("tfidf").as("ranker"), col("query_id"), col("rank"),
          col("doc_id"))
      appendScorecard(spark,
        scorecardLong(scoreRankings(truth, qrels, EvalK)), path)
      // the degraded release publishes under the SAME component name —
      // it models the same ranker regressing between releases
      val degraded = degradedRanking(spark, corpus, QueryPanel, EvalK)
        .select(lit("tfidf").as("ranker"), col("query_id"), col("rank"),
          col("doc_id"))
      appendScorecard(spark,
        scorecardLong(scoreRankings(degraded, qrels, EvalK)), path)
    }
    scorecardDrift(spark, p)
  }

  /** The drift replay — the shared qrels/TF-IDF CTEs score BOTH release
    * rankings (descending = release 1, ascending = the degraded release
    * 2), unpivot to (component, metric, value), and diff. */
  private[graft] def scorecardDriftOracleSql: String = {
    val k = EvalK
    val wCases = wCasesSql
    val mrrCases = mrrCasesSql
    def scoreCtes(src: String, sfx: String): String =
      s"""gr$sfx AS (SELECT ranker, query_id, rank, coalesce(grade, 0) AS grade
  FROM $src LEFT JOIN qr USING (query_id, doc_id)),
ret$sfx AS (SELECT ranker, query_id,
  CAST(sum(($gainSql) * (CASE rank $wCases END)) AS BIGINT) AS dcg_q9,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hits_rel,
  min(CASE WHEN grade >= 2 THEN rank END) AS first_rel_rank
  FROM gr$sfx GROUP BY ranker, query_id),
grd$sfx AS (SELECT ranker, query_id, n_rel
  FROM (SELECT DISTINCT ranker FROM $src) CROSS JOIN rel),
mp$sfx AS (SELECT grd$sfx.ranker AS ranker,
  grd$sfx.query_id AS query_id,
  CASE WHEN n_rel > 0 THEN CAST(floor(
    CAST(coalesce(n_hits_rel, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(n_rel AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS recall_q6,
  CASE WHEN first_rel_rank IS NOT NULL
    THEN (CASE first_rel_rank $mrrCases END)
    ELSE CAST(0 AS BIGINT) END AS mrr_q6,
  CASE WHEN idcg_q9 > 0 THEN CAST(floor(
    CAST(coalesce(dcg_q9, CAST(0 AS BIGINT)) AS DOUBLE)
    / CAST(idcg_q9 AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS ndcg_q6
  FROM grd$sfx LEFT JOIN ret$sfx
    ON grd$sfx.ranker = ret$sfx.ranker
    AND grd$sfx.query_id = ret$sfx.query_id
  JOIN idl ON grd$sfx.query_id = idl.query_id),
sc$sfx AS (SELECT component, metric, value FROM (
  SELECT ranker || '/q' || CAST(query_id AS VARCHAR) AS component,
    'ndcg_q6' AS metric, ndcg_q6 AS value FROM mp$sfx
  UNION ALL SELECT ranker || '/q' || CAST(query_id AS VARCHAR),
    'mrr_q6', mrr_q6 FROM mp$sfx
  UNION ALL SELECT ranker || '/q' || CAST(query_id AS VARCHAR),
    'recall_q6', recall_q6 FROM mp$sfx)
  WHERE value IS NOT NULL)"""
    s"""WITH
$qrelsTfidfCtes,
rta AS (SELECT query_id, rank, doc_id FROM (
  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score ASC, doc_id) AS BIGINT) AS rank FROM sts)
  WHERE rank <= $k),
rkp AS (SELECT 'tfidf' AS ranker, query_id, rank, doc_id FROM rt
  WHERE rank <= $k),
rkc AS (SELECT 'tfidf' AS ranker, query_id, rank, doc_id FROM rta),
ik AS (SELECT query_id, rank, grade FROM (
  SELECT query_id, grade, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY grade DESC, doc_id) AS BIGINT) AS rank FROM qr)
  WHERE rank <= $k),
idl AS (SELECT query_id,
  CAST(sum(($gainSql) * (CASE rank $wCases END)) AS BIGINT) AS idcg_q9
  FROM ik GROUP BY query_id),
rel AS (SELECT query_id,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
  FROM qr GROUP BY query_id),
${scoreCtes("rkp", "p")},
${scoreCtes("rkc", "c")}
SELECT coalesce(scp.component, scc.component) AS component,
  coalesce(scp.metric, scc.metric) AS metric,
  scp.value AS prev_value, scc.value AS cur_value,
  scc.value - scp.value AS delta,
  (scp.value IS NULL OR scc.value IS NULL OR
    abs(scc.value - scp.value) >= $DriftFlagQ6) AS flagged
FROM scp FULL OUTER JOIN scc
  ON scp.component = scc.component AND scp.metric = scc.metric
ORDER BY component, metric"""
  }
}
