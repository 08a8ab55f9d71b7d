package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Inverted-index retrieval over the `documents` table: the classic
  * web-search/RAG workload a training-data engine feeds (build postings,
  * score a term query with TF-IDF).
  *
  * Scale design (100 TB):
  *  - The index is DOCUMENT-PARTITIONED (`shard = doc_id % nShards`) — the
  *    production web-search layout: each shard's postings are built from its
  *    own document partition, so index build is a (term, shard)-keyed
  *    aggregation with map-side combine and NO global per-term collect. A
  *    stopword's postings split across all shards instead of funneling one
  *    task (the skew that kills term-partitioned layouts at corpus scale).
  *  - Per-shard posting lists are doc_id-sorted arrays — a lookup
  *    merge-scans `nShards` sorted runs, and delta indexing appends new
  *    shards without rewriting old ones (the PersistedIndex discipline).
  *  - Term statistics (df, cf) are a second, vocabulary-sized aggregation
  *    over the shard rows — they never touch corpus-sized data again.
  *  - Query scoring reads only the postings of the query's terms: a
  *    selective `isin` filter BEFORE any shuffle, so the corpus-sized
  *    exchange carries query-term rows only; df and N are tiny broadcasts.
  */
object Retrieval {

  /** Postings below this document frequency are dropped from the reported
    * index (noise terms; keeps the oracle-compared output bounded). */
  private val MinDf = 20L

  private val NShards = 8

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** Document-partitioned inverted index: one row per (term, shard) with
    * doc_id-sorted postings (parallel `doc_ids`/`tfs` arrays), plus the
    * term's global df/cf replicated on each shard row for scoring.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    invertedIndexFrom(spark, docs(spark, sfDir))

  /** The raw (term, shard) posting rows of [[invertedIndexFrom]] — also
    * the unit a persisted text index stores and appends
    * ([[PersistedIndex.buildTextIndex]]).
    */
  private[operators] def postingsFrom(corpus: DataFrame): DataFrame = {
    val tf = corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf
      .withColumn("shard", pmod(col("doc_id"), lit(NShards)).cast(IntegerType))
      .groupBy(col("term"), col("shard"))
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("tf")).cast(LongType).as("n_occ"),
        sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .select(col("term"), col("shard"), col("n_docs"), col("n_occ"),
        transform(col("p"), x => x.getField("doc_id")).as("doc_ids"),
        transform(col("p"), x => x.getField("tf").cast(LongType)).as("tfs"))
  }

  /** Driver-facing form of [[invertedIndex]]: identical rows, but the
    * postings arrays serialized to comma-joined strings (the
    * `embQuantizeFlat` discipline — harness row-sorters cannot order
    * array cells; library callers keep [[invertedIndexFrom]]'s arrays).
    */
  def invertedIndexFlat(spark: SparkSession, sfDir: String): DataFrame =
    invertedIndex(spark, sfDir)
      .withColumn("doc_ids", array_join(col("doc_ids"), ","))
      .withColumn("tfs", array_join(col("tfs"), ","))

  /** [[invertedIndex]] over any (doc_id, text) frame. */
  def invertedIndexFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val postings = postingsFrom(corpus)
    // global term stats as a window over the (term, shard) rows — at most
    // nShards rows per term, so the per-term partition is bounded at any
    // corpus size (no join, no second corpus lineage)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    postings
      .withColumn("df", sum(col("n_docs")).over(w).cast(LongType))
      .withColumn("cf", sum(col("n_occ")).over(w).cast(LongType))
      .filter(col("df") >= MinDf)
      .select(col("term"), col("shard"), col("df"), col("cf"),
        col("n_docs"), col("doc_ids"), col("tfs"))
      .orderBy("term", "shard")
  }

  /** Demo query-term panel — present in the synthetic corpus vocabulary. */
  private[graft] val QueryTerms = Seq("spark", "join", "window")

  /** TF-IDF top-k retrieval for a fixed term query: score(doc) =
    * sum over matched terms of tf * ln(N / df); top `k` by
    * (score desc, doc_id). The corpus scan is filtered to the query's
    * terms BEFORE the tf aggregation, so the only corpus-sized exchange
    * carries query-term tokens only; df and the 1-row N normalizer are
    * broadcasts, and the final top-k is a TakeOrdered (no global sort).
    */
  def indexTopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    indexTopKFrom(spark, docs(spark, sfDir), QueryTerms, k)

  /** [[indexTopK]] over any (doc_id, text) frame and term set. */
  def indexTopKFrom(spark: SparkSession, corpus: DataFrame,
      terms: Seq[String], k: Int): DataFrame = {
    val tf = corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    tf.join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf").cast(DoubleType) *
        log(col("n_corpus").cast(DoubleType) / col("df")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Demo query TABLE for the batched form — what a RAG eval harness
    * actually scores (many queries per corpus pass). Shared with the
    * generated oracle SQL so the panels cannot drift.
    */
  private[graft] val QueryPanel: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "window"),
    2L -> Seq("hash", "merge", "sort"),
    3L -> Seq("stream", "batch", "filter"),
    4L -> Seq("vector", "query"))

  /** Batched TF-IDF top-k: top `k` docs for EACH query of a query table,
    * in ONE corpus pass. The corpus scan filters to the UNION of all
    * panels' terms before the tf shuffle; the query↔term mapping and the
    * df/N statistics are broadcasts, so adding queries costs no extra
    * corpus work. The per-query ranking is TWO-PHASE: a (query, shard)
    * window keeps k survivors per shard — bounding every window
    * partition at any corpus size (a query-only window would funnel a
    * query's whole candidate set, corpus-sized for common terms, through
    * one task) — then the global window ranks the ≤ k·nShards survivors.
    */
  def indexTopKBatch(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame =
    indexTopKBatchFrom(spark, docs(spark, sfDir), QueryPanel, k)

  /** The batched TF-IDF scoring core — (query_id, doc_id, n_terms_hit,
    * score) for EVERY matching doc of a query panel, in one corpus pass
    * (union-term filtered scan, broadcast query↔term mapping and df/N
    * statistics). THE single panel scorer: [[indexTopKBatchFrom]] ranks
    * it, [[retrievalEvalFrom]] grades it — one implementation, so the
    * scorecard always evaluates exactly the ranking the batch query
    * serves. */
  private[operators] def panelScoredFrom(spark: SparkSession,
      corpus: DataFrame, queries: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val tf = corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    tf.join(broadcast(qterms), "term")
      .join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf").cast(DoubleType) *
        log(col("n_corpus").cast(DoubleType) / col("df")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
  }

  /** [[indexTopKBatch]] over any (doc_id, text) corpus and query table. */
  def indexTopKBatchFrom(spark: SparkSession, corpus: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    val scored = panelScoredFrom(spark, corpus, queries)
    val byScore = Seq(col("score").desc, col("doc_id"))
    val shardW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), pmod(col("doc_id"), lit(NShards)))
      .orderBy(byScore: _*)
    val queryW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(byScore: _*)
    scored
      .withColumn("srk", row_number().over(shardW))
      .filter(col("srk") <= k)
      .withColumn("rank", row_number().over(queryW).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** BM25 parameters (the Robertson/Lucene defaults) — shared with the
    * persisted-index scorer ([[PersistedIndex.searchTextIndexBm25]]). */
  private[operators] val K1 = 1.2
  private[operators] val B = 0.75

  /** BM25 top-k retrieval for the fixed term query — the production
    * lexical ranking function (length-normalized TF saturation +
    * rare-term IDF), same plan shape as [[indexTopK]]: the tf aggregation
    * CARRIES each doc's token length through the explode (one text scan
    * computes both), a second length-only pruned scan feeds the 1-row
    * N/avgdl normalizer, df broadcasts, and the top-k is a TakeOrdered.
    * idf = ln(1 + (N - df + ½)/(df + ½)), the Lucene formulation (always
    * positive, so stopword-heavy queries cannot flip signs).
    */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    bm25TopKFrom(spark, docs(spark, sfDir), QueryTerms, k)

  /** The BM25 per-(doc, term) weight — Lucene idf × saturated tf —
    * over columns (tf, dl, df, n_corpus, avgdl). THE single scoring
    * formula for every BM25 surface in the engine ([[bm25TopKFrom]]
    * and the retrieval chain's nano-quantized ranking,
    * [[RetrievalProgram.textRankQ9]]); the DuckDB oracles replay the
    * same expression text. */
  private[operators] def bm25Weight: org.apache.spark.sql.Column = {
    val idf = log(lit(1.0) +
      (col("n_corpus") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfD = col("tf").cast(DoubleType)
    val sat = tfD * (lit(K1) + 1.0) /
      (tfD + lit(K1) * (lit(1.0 - B) +
        lit(B) * col("dl").cast(DoubleType) / col("avgdl")))
    idf * sat
  }

  /** [[bm25TopK]] over any (doc_id, text) frame and term set. */
  def bm25TopKFrom(spark: SparkSession, corpus: DataFrame,
      terms: Seq[String], k: Int): DataFrame = {
    val toks = tokens(col("text"))
    val tf = corpus
      .select(col("doc_id"), size(toks).cast(LongType).as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n_corpus"),
      avg(size(toks).cast(DoubleType)).as("avgdl"))
    tf.join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_terms_hit"),
        round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Rank-agreement diagnostic between the two lexical rankers: TF-IDF
    * and BM25 top-`k` for the shared query panel, full-outer-joined on
    * doc with each side's rank, the agreement flag, and the rank delta —
    * the ranker-regression telemetry a retrieval stack watches when it
    * swaps scoring functions (disagreement rows are exactly where a
    * relevance review should look). Both sides are the production
    * queries; the comparison frame is ≤ 2k rows.
    */
  def rankerAgreement(spark: SparkSession, sfDir: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = docs(spark, sfDir)
    // post-limit rank numbering: <= k rows (the simTopK bounded-window note)
    def ranked(df: DataFrame, name: String) = df
      .withColumn(name, row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast(LongType))
      .select(col("doc_id"), col(name))
    val t = ranked(indexTopKFrom(spark, corpus, QueryTerms, k), "rank_tfidf")
    val b = ranked(bm25TopKFrom(spark, corpus, QueryTerms, k), "rank_bm25")
    t.join(b, Seq("doc_id"), "full")
      .select(col("doc_id"), col("rank_tfidf"), col("rank_bm25"),
        (col("rank_tfidf").isNotNull && col("rank_bm25").isNotNull)
          .as("in_both"),
        when(col("rank_tfidf").isNotNull && col("rank_bm25").isNotNull,
          abs(col("rank_tfidf") - col("rank_bm25"))).as("rank_delta"))
      .orderBy("doc_id")
  }

  /** The DuckDB replay of [[rankerAgreement]] — both rankers' scoring
    * CTEs verbatim, ranked and full-outer-joined.
    */
  private[graft] def rankerAgreementOracleSql(k: Int = 20): String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t1 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf1 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t1
  WHERE term IN ($terms) GROUP BY doc_id, term),
df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY term),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
s1 AS (SELECT doc_id,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4) AS score
  FROM tf1 JOIN df1 USING (term), n1 GROUP BY doc_id),
tr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
  AS rank_tfidf FROM s1),
t2 AS (SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
  unnest(string_split(text, ' ')) AS term FROM documents),
tf2 AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t2
  WHERE term IN ($terms) GROUP BY doc_id, dl, term),
df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
st2 AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
s2 AS (SELECT doc_id,
  round(sum(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5)) *
    (CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
    (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / avgdl))), 4)
    AS score
  FROM tf2 JOIN df2 USING (term), st2 GROUP BY doc_id),
br AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
  AS rank_bm25 FROM s2),
trk AS (SELECT * FROM tr WHERE rank_tfidf <= $k),
brk AS (SELECT * FROM br WHERE rank_bm25 <= $k)
SELECT coalesce(trk.doc_id, brk.doc_id) AS doc_id, rank_tfidf, rank_bm25,
  rank_tfidf IS NOT NULL AND rank_bm25 IS NOT NULL AS in_both,
  CASE WHEN rank_tfidf IS NOT NULL AND rank_bm25 IS NOT NULL
    THEN abs(rank_tfidf - rank_bm25) END AS rank_delta
FROM trk FULL JOIN brk ON trk.doc_id = brk.doc_id
ORDER BY doc_id"""
  }

  /** The DuckDB replay of [[bm25TopK]] — same constants, same math. */
  private[graft] def bm25OracleSql(k: Int = 10): String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
  unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE term IN ($terms) GROUP BY doc_id, dl, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
  FROM documents),
s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
  round(sum(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5)) *
    (CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
    (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / avgdl))), 4)
    AS score
  FROM tf JOIN df USING (term), st GROUP BY doc_id)
SELECT doc_id, n_terms_hit, score FROM s
ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    * (Cormack et al., SIGIR'09): fuse the TF-IDF top-`kEach` for the
    * term query with the cosine top-`kEach` for a query embedding
    * (vec_id 0 — documents and embeddings share the id domain) by
    * rrf = Σ 1/(60 + rank). THE RAG-stack ranking: each side keeps its
    * own scale-correct plan (term-filtered scan + TakeOrdered; broadcast
    * query vector + TakeOrdered), fusion is a full outer join of two
    * ≤ kEach-row frames — nothing corpus-sized moves after the two
    * top-k stages.
    */
  def hybridRrf(spark: SparkSession, sfDir: String, k: Int = 10,
      kEach: Int = 20): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val byText = Seq(col("score").desc, col("doc_id"))
    val textTop = indexTopKFrom(spark, docs(spark, sfDir), QueryTerms, kEach)
      .withColumn("text_rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy(byText: _*))
        .cast(LongType))
      .select(col("doc_id"), col("text_rank"))
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val byCos = Seq(col("cos").desc, col("vec_id"))
    val vecTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorFunctions
          .cosine(col("embedding"), col("qv")).as("cos"))
      .orderBy(byCos: _*).limit(kEach)
      .withColumn("vec_rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy(byCos: _*))
        .cast(LongType))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    val rrf = coalesce(lit(1.0) / (lit(60.0) + col("text_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0))
    textTop.join(vecTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        round(rrf, 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** The DuckDB replay of [[hybridRrf]] — the index_topk CTEs for the
    * text side, the sim_topk ordered-list_sum cosine for the vector side.
    */
  private[graft] def hybridRrfOracleSql(k: Int = 10,
      kEach: Int = 20): String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    val dot = "list_sum(list_transform(range(64), i -> " +
      "CAST(embedding[i+1] AS DOUBLE) * CAST(qv[i+1] AS DOUBLE)))"
    val nrmE = "sqrt(list_sum(list_transform(range(64), i -> " +
      "CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))))"
    val nrmQ = "sqrt(list_sum(list_transform(range(64), i -> " +
      "CAST(qv[i+1] AS DOUBLE) * CAST(qv[i+1] AS DOUBLE))))"
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE term IN ($terms) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
ts AS (SELECT doc_id,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4)
    AS score
  FROM tf JOIN df USING (term), n GROUP BY doc_id),
tr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
    AS BIGINT) AS text_rank
  FROM ts ORDER BY score DESC, doc_id LIMIT $kEach),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vs AS (SELECT vec_id, ($dot / ($nrmE * $nrmQ)) AS c
  FROM embeddings, q WHERE vec_id <> 0),
vr AS (SELECT vec_id AS doc_id, CAST(row_number()
    OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS vec_rank
  FROM vs ORDER BY c DESC, vec_id LIMIT $kEach)
SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, text_rank, vec_rank,
  round(coalesce(1.0 / (60.0 + text_rank), 0.0) +
    coalesce(1.0 / (60.0 + vec_rank), 0.0), 6) AS rrf_score
FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
ORDER BY rrf_score DESC, coalesce(tr.doc_id, vr.doc_id) LIMIT $k"""
  }

  /** The DuckDB replay of [[indexTopKBatch]], generated from the SAME
    * [[QueryPanel]] (single-phase global ranking — equivalent because
    * phase 1 only drops rows that cannot reach the global top k).
    */
  private[graft] def indexTopKBatchOracleSql(k: Int = 5): String = {
    val values = QueryPanel.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid, '$t')")
    }.mkString(", ")
    val terms = QueryPanel.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH q AS (SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
  FROM (VALUES $values) v(q, t)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE term IN ($terms) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
s AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4)
    AS score
  FROM tf JOIN q USING (term) JOIN df USING (term), n
  GROUP BY query_id, doc_id),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM s)
SELECT query_id, rank, doc_id, n_terms_hit, score FROM r
WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** RBO depth and persistence for [[rboOverlap]]. */
  private val RboK = 10
  private val RboP = 0.9

  /** Per-doc RBO contribution, nano-quantized: a doc appearing in BOTH
    * top-[[RboK]] lists at ranks (ra, rb) joins every prefix of depth
    * d ≥ max(ra, rb), contributing `(1−p)·Σ_{d=m}^{K} p^{d−1}/d`,
    * normalized by the truncation mass `1 − p^K` so two IDENTICAL
    * top-K lists score exactly 1. The table is computed ONCE here and
    * embedded as the same BIGINT literals in the Spark plan and the
    * oracle SQL — no float parsing on either side.
    */
  private[graft] val RboWeightsQ9: Seq[Long] = (1 to RboK).map { m =>
    val w = (1.0 - RboP) *
      (m to RboK).map(d => math.pow(RboP, d - 1) / d).sum /
      (1.0 - math.pow(RboP, RboK))
    math.floor(w * 1000000000d + 0.5d).toLong
  }

  /** Rank-biased overlap (Webber'10) between the TF-IDF and BM25
    * top-[[RboK]] rankings — the single-number ranker-swap metric next
    * to [[rankerAgreement]]'s per-doc diff: top-weighted (rank-1
    * agreement counts ~[[RboP]]⁰ while rank-10 counts ~p⁹), bounded
    * [0, 1], truncated at depth K and normalized by `1 − p^K` so two
    * identical top-K lists score exactly 1. Emits the common-doc count
    * and rbo_q6.
    *
    * Determinism: each common doc's contribution is an integer from
    * [[RboWeightsQ9]] keyed by max(rank_a, rank_b); the sum is exact
    * BIGINT at any parallelism; ONE final scale division.
    *
    * Scale: both rankers end in TakeOrdered(K); the comparison frame is
    * ≤ K rows — the metric costs two scans regardless of corpus size.
    */
  def rboOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = docs(spark, sfDir)
    def ranked(df: DataFrame, name: String) = df
      .withColumn(name, row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast(LongType))
      .select(col("doc_id"), col(name))
    val t = ranked(indexTopKFrom(spark, corpus, QueryTerms, RboK), "ra")
    val b = ranked(bm25TopKFrom(spark, corpus, QueryTerms, RboK), "rb")
    val wCol = RboWeightsQ9.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (wq, i)) =>
        when(greatest(col("ra"), col("rb")) === (i + 1).toLong, lit(wq))
          .otherwise(acc)
    }
    t.join(b, "doc_id")
      .select(wCol.as("wq"))
      .agg(count(lit(1)).cast(LongType).as("n_common"),
        coalesce(sum(col("wq")), lit(0L)).as("swq"))
      .select(col("n_common"),
        floor(col("swq").cast("double") / 1000.0d + 0.5d)
          .cast(LongType).as("rbo_q6"))
  }

  /** The DuckDB replay of [[rboOverlap]] — both rankers' scoring CTEs
    * (the [[rankerAgreementOracleSql]] text at k = [[RboK]]) and the
    * SAME integer weight literals.
    */
  private[graft] def rboOverlapOracleSql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    val cases = RboWeightsQ9.zipWithIndex.map { case (wq, i) =>
      s"WHEN ${i + 1} THEN CAST($wq AS BIGINT)"
    }.mkString(" ")
    s"""WITH t1 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf1 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t1
  WHERE term IN ($terms) GROUP BY doc_id, term),
df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY term),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
s1 AS (SELECT doc_id,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4) AS score
  FROM tf1 JOIN df1 USING (term), n1 GROUP BY doc_id),
tr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
  AS ra FROM s1),
t2 AS (SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
  unnest(string_split(text, ' ')) AS term FROM documents),
tf2 AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM t2
  WHERE term IN ($terms) GROUP BY doc_id, dl, term),
df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
st2 AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
s2 AS (SELECT doc_id,
  round(sum(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5)) *
    (CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
    (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / avgdl))), 4)
    AS score
  FROM tf2 JOIN df2 USING (term), st2 GROUP BY doc_id),
br AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
  AS rb FROM s2),
cm AS (SELECT CASE greatest(tr.ra, br.rb) $cases END AS wq
  FROM tr JOIN br USING (doc_id)
  WHERE tr.ra <= $RboK AND br.rb <= $RboK)
SELECT CAST(count(*) AS BIGINT) AS n_common,
  CAST(floor(CAST(coalesce(sum(wq), 0) AS DOUBLE) / 1000.0 + 0.5) AS BIGINT) AS rbo_q6
FROM cm"""
  }

  /** Cutoff for the ranking-quality metrics. */
  private[graft] val EvalK = 5

  /** 1/log2(rank+1) DCG discount weights, nano-quantized in Scala and
    * embedded as the SAME BIGINT literals in the Spark plan and the
    * oracle SQL (the [[RboWeightsQ9]] discipline — no float parsing or
    * transcendental drift on either side). */
  private[graft] val DcgWeightsQ9: Seq[Long] = (1 to EvalK).map { r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong
  }

  /** Reciprocal-rank micro-units for ranks 1..[[EvalK]] — same
    * embedded-literal discipline. */
  private[graft] val MrrWeightsQ6: Seq[Long] =
    (1 to EvalK).map(r => math.floor(1e6 / r + 0.5).toLong)

  /** Retrieval-quality scorecard — NDCG@k / MRR / recall@k of the
    * batched TF-IDF ranking ([[indexTopKBatch]]) against a
    * DETERMINISTIC graded qrels derived from the corpus itself:
    * grade(query, doc) = how many of the query's terms the doc
    * contains (the n_terms_hit column the scorer already computes),
    * "relevant" = grade ≥ 2. This is the eval loop every RAG build
    * runs after an index or ranker change; the metrics are exact
    * integers (gains × embedded discount literals summed as BIGINT;
    * ONE final division per ratio, floor-quantized), so the DuckDB
    * replay is bit-identical.
    *
    * Scale shape: one corpus scan filtered to the panel's term union
    * feeds everything; the ideal ranking uses the same two-phase
    * (query, shard) window as the retrieval ranking — no corpus-sized
    * single-key window; every per-query aggregate is over ≤ k rows or
    * a map-side-combinable sum.
    */
  def retrievalEval(spark: SparkSession, sfDir: String): DataFrame =
    retrievalEvalFrom(spark, docs(spark, sfDir), QueryPanel, EvalK)

  /** [[retrievalEval]] over any corpus and query panel. */
  def retrievalEvalFrom(spark: SparkSession, corpus: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    require(k <= EvalK, s"k=$k exceeds the embedded weight tables ($EvalK)")
    // (query_id, doc_id, grade, score) for EVERY matching doc — the ONE
    // shared panel scorer ([[panelScoredFrom]] — exactly the ranking
    // indexTopKBatch serves), graded by its n_terms_hit; fenced because
    // three branches (ranking, relevance counts, ideal) re-read it
    val scored = panelScoredFrom(spark, corpus, queries)
      .withColumnRenamed("n_terms_hit", "grade")
      .transform(Fence)
    val byScore = Seq(col("score").desc, col("doc_id"))
    val byGrade = Seq(col("grade").desc, col("doc_id"))
    def topK(order: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val shardW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), pmod(col("doc_id"), lit(NShards)))
        .orderBy(order: _*)
      val queryW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(order: _*)
      scored
        .withColumn("srk", row_number().over(shardW))
        .filter(col("srk") <= k)
        .withColumn("rank", row_number().over(queryW).cast(LongType))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("doc_id"), col("grade"))
    }
    val gain = when(col("grade") === 1L, 1L)
      .when(col("grade") === 2L, 3L)
      .when(col("grade") === 3L, 7L).otherwise(15L)
    val wq = DcgWeightsQ9.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (w, i)) =>
        when(col("rank") === (i + 1).toLong, lit(w)).otherwise(acc)
    }
    val retrieved = topK(byScore)
      .groupBy("query_id")
      .agg(sum(gain * wq).cast(LongType).as("dcg_q9"),
        sum(when(col("grade") >= 2L, 1L).otherwise(0L))
          .cast(LongType).as("n_hits_rel"),
        min(when(col("grade") >= 2L, col("rank"))).as("first_rel_rank"))
    val ideal = topK(byGrade)
      .groupBy("query_id")
      .agg(sum(gain * wq).cast(LongType).as("idcg_q9"))
    val rel = scored.groupBy("query_id")
      .agg(sum(when(col("grade") >= 2L, 1L).otherwise(0L))
        .cast(LongType).as("n_rel"))
    val mrr = MrrWeightsQ6.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (w, i)) =>
        when(col("first_rel_rank") === (i + 1).toLong, lit(w)).otherwise(acc)
    }
    retrieved.join(ideal, "query_id").join(rel, "query_id")
      .select(col("query_id"),
        col("n_rel"), col("n_hits_rel"),
        when(col("n_rel") > 0L,
          floor(col("n_hits_rel").cast(DoubleType)
            / col("n_rel").cast(DoubleType) * 1000000d + 0.5d)
            .cast(LongType)).as("recall_q6"),
        when(col("first_rel_rank").isNotNull, mrr).otherwise(lit(0L))
          .as("mrr_q6"),
        col("dcg_q9"), col("idcg_q9"),
        when(col("idcg_q9") > 0L,
          floor(col("dcg_q9").cast(DoubleType)
            / col("idcg_q9").cast(DoubleType) * 1000000d + 0.5d)
            .cast(LongType)).as("ndcg_q6"))
      .orderBy("query_id")
  }

  /** The DuckDB replay of [[retrievalEval]] — the [[indexTopKBatch]]
    * scoring CTEs, graded by the same n_terms_hit, ranked single-phase
    * (equivalent: phase 1 only drops rows that cannot reach the global
    * top k), with the SAME embedded gain/discount/reciprocal literals.
    */
  private[graft] def retrievalEvalOracleSql: String = {
    val k = EvalK
    val values = QueryPanel.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid, '$t')")
    }.mkString(", ")
    val terms = QueryPanel.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val wCases = DcgWeightsQ9.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN CAST($w AS BIGINT)"
    }.mkString(" ")
    val mrrCases = MrrWeightsQ6.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN CAST($w AS BIGINT)"
    }.mkString(" ")
    val gain = "CASE grade WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 " +
      "ELSE 15 END"
    s"""WITH q AS (SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS term
  FROM (VALUES $values) v(q, t)),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE term IN ($terms) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
s AS MATERIALIZED (SELECT query_id, doc_id,
  CAST(count(*) AS BIGINT) AS grade,
  round(sum(CAST(tf AS DOUBLE) * ln(CAST(n_corpus AS DOUBLE) / df)), 4)
    AS score
  FROM tf JOIN q USING (term) JOIN df USING (term), n
  GROUP BY query_id, doc_id),
rk AS (SELECT query_id, rank, doc_id, grade FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM s)
  WHERE rank <= $k),
ik AS (SELECT query_id, rank, grade FROM (
  SELECT query_id, grade, CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY grade DESC, doc_id) AS BIGINT) AS rank FROM s)
  WHERE rank <= $k),
ret AS (SELECT query_id,
  CAST(sum(($gain) * (CASE rank $wCases END)) AS BIGINT) AS dcg_q9,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hits_rel,
  min(CASE WHEN grade >= 2 THEN rank END) AS first_rel_rank
  FROM rk GROUP BY query_id),
idl AS (SELECT query_id,
  CAST(sum(($gain) * (CASE rank $wCases END)) AS BIGINT) AS idcg_q9
  FROM ik GROUP BY query_id),
rel AS (SELECT query_id,
  CAST(sum(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
  FROM s GROUP BY query_id)
SELECT ret.query_id, n_rel, n_hits_rel,
  CASE WHEN n_rel > 0 THEN CAST(floor(CAST(n_hits_rel AS DOUBLE)
    / CAST(n_rel AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS recall_q6,
  CASE WHEN first_rel_rank IS NOT NULL
    THEN (CASE first_rel_rank $mrrCases END)
    ELSE CAST(0 AS BIGINT) END AS mrr_q6,
  dcg_q9, idcg_q9,
  CASE WHEN idcg_q9 > 0 THEN CAST(floor(CAST(dcg_q9 AS DOUBLE)
    / CAST(idcg_q9 AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS ndcg_q6
FROM ret JOIN idl USING (query_id) JOIN rel USING (query_id)
ORDER BY query_id"""
  }
}
