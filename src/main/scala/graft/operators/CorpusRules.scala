package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Corpus-level curation rule batteries — the rule-based filters and
  * budget planners of published pre-training pipelines, complementing
  * the learned/statistical gates ([[TextPipeline.textQuality]],
  * [[TextPipeline.qualityClassifierFrom]], the LM perplexity family):
  *
  *  - [[gopherRules]]: the Gopher/MassiveText document-quality rule
  *    battery (Rae et al. '21, §A.1.1) — per-document word-count,
  *    mean-word-length, stopword-presence, and repetition rules with
  *    exact integer/boolean outputs;
  *  - [[dataEpochs]]: the data-constrained repetition schedule
  *    (Muennighoff et al. '23) — how many epochs each source repeats
  *    under a token budget, capped at the ~4-epoch useful-repetition
  *    ceiling the paper measures;
  *  - [[sourceOverlap]]: exact pairwise shingle-Jaccard between
  *    SOURCES (which domains mirror each other) — the corpus-level
  *    twin of the per-document dedup family.
  *
  * The reference system
  * (aws-samples/amazon-kinesis-data-streams-health-check) has no corpus
  * surface; this family is part of the engine's LLM-pipeline extension
  * mandate. Every emitted column is BIGINT/VARCHAR/BOOLEAN (the driver
  * surface discipline).
  */
object CorpusRules {

  /** The stopword panel shared with [[TextPipeline.qualityCol]]. */
  private val Stopwords = Seq("the", "a", "of", "and", "is", "not")

  /** Gopher rule battery per document. Rules (document KEPT when all
    * hold):
    *  - `r_word_count`: 50 <= word count <= 100000 (the MassiveText
    *    bounds);
    *  - `r_mean_len`: mean word length in [3, 10] characters;
    *  - `r_stopwords`: at least 2 DISTINCT stopwords present (the
    *    "contains required words" rule);
    *  - `r_repetition`: the most frequent word carries <= 20% of the
    *    document (the repetition-rate rule at word granularity).
    *
    * Determinism: mean length and top-word share are emitted as scaled
    * BIGINTs (q2 resp. q4) computed with ONE IEEE division each from
    * exact integer numerators — the oracle writes the identical
    * sequence. Scale: one tokenize pass, ONE (doc, word)-keyed
    * map-side-combined agg, one doc-keyed rollup — nothing funnels, no
    * window anywhere.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherRulesFrom(Tables.documents(spark, sfDir))

  /** [[gopherRules]] over any (doc_id, text) frame. */
  def gopherRulesFrom(corpus: DataFrame): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val perWord = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
    val perDoc = perWord.groupBy(col("doc_id"))
      .agg(sum(col("n")).cast(LongType).as("n_words"),
        sum(col("n") * length(col("w"))).cast(LongType).as("n_word_chars"),
        max(col("n")).cast(LongType).as("top_cnt"),
        countDistinct(when(col("w").isin(Stopwords: _*), col("w")))
          .cast(LongType).as("n_stopwords"))
    perDoc
      .withColumn("mean_len_q2",
        floor(col("n_word_chars").cast("double") / col("n_words") * 100d
          + 0.5d).cast(LongType))
      .withColumn("top_share_q4",
        floor(col("top_cnt").cast("double") / col("n_words") * 10000d
          + 0.5d).cast(LongType))
      .select(col("doc_id"), col("n_words"), col("mean_len_q2"),
        col("n_stopwords"), col("top_share_q4"),
        (col("n_words") >= 50 && col("n_words") <= 100000)
          .as("r_word_count"),
        (col("mean_len_q2") >= 300 && col("mean_len_q2") <= 1000)
          .as("r_mean_len"),
        (col("n_stopwords") >= 2).as("r_stopwords"),
        (col("top_share_q4") <= 2000).as("r_repetition"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_stopwords") &&
          col("r_repetition"))
      .orderBy("doc_id")
  }

  /** The DuckDB replay of [[gopherRules]]. */
  private[graft] def gopherRulesOracleSql: String =
    s"""WITH gt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
gtt AS (SELECT doc_id, w FROM gt WHERE len(w) > 0),
gpw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n FROM gtt GROUP BY doc_id, w),
gpd AS (SELECT doc_id,
  CAST(sum(n) AS BIGINT) AS n_words,
  CAST(sum(n * len(w)) AS BIGINT) AS n_word_chars,
  CAST(max(n) AS BIGINT) AS top_cnt,
  CAST(count(DISTINCT CASE WHEN w IN ('the','a','of','and','is','not')
    THEN w END) AS BIGINT) AS n_stopwords
  FROM gpw GROUP BY doc_id),
gq AS (SELECT *,
  CAST(floor(CAST(n_word_chars AS DOUBLE) / n_words * 100 + 0.5) AS BIGINT) AS mean_len_q2,
  CAST(floor(CAST(top_cnt AS DOUBLE) / n_words * 10000 + 0.5) AS BIGINT) AS top_share_q4
  FROM gpd)
SELECT doc_id, n_words, mean_len_q2, n_stopwords, top_share_q4,
  n_words >= 50 AND n_words <= 100000 AS r_word_count,
  mean_len_q2 >= 300 AND mean_len_q2 <= 1000 AS r_mean_len,
  n_stopwords >= 2 AS r_stopwords,
  top_share_q4 <= 2000 AS r_repetition,
  (n_words >= 50 AND n_words <= 100000)
    AND (mean_len_q2 >= 300 AND mean_len_q2 <= 1000)
    AND n_stopwords >= 2 AND top_share_q4 <= 2000 AS keep
FROM gq ORDER BY doc_id"""

  /** Data-constrained repetition schedule (Muennighoff'23, "Scaling
    * Data-Constrained Language Models"): given a total training token
    * budget, each source's uniform share is `budget div n_sources`; a
    * source with fewer available tokens than its share REPEATS —
    * `epochs = share / available`, capped at 4 (the paper's measured
    * ceiling beyond which repeated tokens stop helping) — and a source
    * with more tokens than its share is subsampled (epochs < 1). The
    * report: available and target tokens, the epoch multiplier
    * (q4-scaled BIGINT), the effective token contribution after the
    * cap, and whether the cap bound.
    *
    * Determinism: ONE IEEE division per source from exact integer
    * token counts, then floor-quantization; the effective-token product
    * is pure integer arithmetic on the quantized multiplier. Scale: a
    * #sources-row aggregate over ONE tokenize pass — the per-source
    * frame is fenced (checkpoint) before the 1-row n_sources normalizer
    * derives from it, so the corpus scan is not re-executed under the
    * broadcast subtree (the connectedComponents fence discipline; an
    * unfenced normalizer would tokenize 100 TB twice).
    */
  def dataEpochs(spark: SparkSession, sfDir: String,
      budget: Long = 40000L): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val avail = Fence(d
      .select(col("source"),
        size(filter(tokens(col("text")), t => length(t) > 0))
          .cast(LongType).as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).cast(LongType).as("avail_tokens"))
      // zero-supply sources drop BEFORE the division: all-empty-token
      // docs would divide by zero (Spark absorbs the Infinity under
      // least(); DuckDB's CAST(floor(inf)) raises — engine divergence on
      // the degenerate input), and the oracle's occurrence unnest never
      // emits such a source anyway — row presence and arithmetic align.
      .filter(col("avail_tokens") > 0L))
    val nSources = avail.agg(count(lit(1)).cast(LongType).as("n_sources"))
    avail.crossJoin(broadcast(nSources))
      .withColumn("target_tokens",
        expr(s"$budget div n_sources").cast(LongType))
      .withColumn("epochs_q4",
        least(lit(40000L),
          floor(col("target_tokens").cast("double") / col("avail_tokens")
            * 10000d + 0.5d).cast(LongType)))
      .select(col("source"), col("avail_tokens"), col("target_tokens"),
        col("epochs_q4"),
        expr("(epochs_q4 * avail_tokens) div 10000").cast(LongType)
          .as("effective_tokens"),
        (col("epochs_q4") === 40000L).as("capped"))
      .orderBy("source")
  }

  /** The DuckDB replay of [[dataEpochs]]. */
  private[graft] def dataEpochsOracleSql(budget: Long = 40000L): String =
    s"""WITH et AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
ea AS (SELECT source, CAST(count(*) AS BIGINT) AS avail_tokens FROM et
  WHERE len(w) > 0 GROUP BY source),
en AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM ea),
eg AS (SELECT source, avail_tokens, $budget // n_sources AS target_tokens,
  least(40000, CAST(floor(CAST($budget // n_sources AS DOUBLE) / avail_tokens
    * 10000 + 0.5) AS BIGINT)) AS epochs_q4
  FROM ea, en)
SELECT source, avail_tokens, CAST(target_tokens AS BIGINT) AS target_tokens,
  epochs_q4,
  CAST((epochs_q4 * avail_tokens) // 10000 AS BIGINT) AS effective_tokens,
  epochs_q4 = 40000 AS capped
FROM eg ORDER BY source"""

  /** Exact integer water-filling token allocation (the classic
    * budget-split under per-source supply caps): given a total token
    * budget, find the water level `L` with `sum(min(avail_i, L)) =
    * budget` — sources with less material than the level are consumed
    * fully, everyone else gets the level. The discrete form: sort
    * sources by (avail, source); a source is fully consumed iff its
    * supply times the number of not-yet-leveled sources fits in the
    * budget remaining after all smaller sources; the uncapped tail
    * splits the remainder as `base = R div m` with the first `R mod m`
    * tail sources (in sort order) taking one extra token — allocations
    * sum to `min(budget, total)` EXACTLY, all integer arithmetic.
    *
    * Complements [[dataEpochs]] (uniform share + repetition) with the
    * supply-aware split the mixture planners actually need when some
    * sources are tiny. Scale: the per-source frame is fenced (one
    * corpus tokenize pass), and every window below runs on that
    * #sources-row frame — bounded by the source taxonomy, never by the
    * corpus (the assign_ids offsets-table class, whitelisted).
    */
  def budgetWaterfill(spark: SparkSession, sfDir: String,
      budget: Long = 30000L): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val avail = Fence(d
      .select(col("source"),
        size(filter(tokens(col("text")), t => length(t) > 0))
          .cast(LongType).as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).cast(LongType).as("avail_tokens"))
      // same degenerate-input alignment as dataEpochs: the oracle's
      // occurrence unnest never emits a zero-supply source
      .filter(col("avail_tokens") > 0L))
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("avail_tokens"), col("source"))
    val o = avail
      .withColumn("i", row_number().over(wOrd).cast(LongType))
      .withColumn("cum_prev",
        coalesce(sum(col("avail_tokens")).over(
          wOrd.rowsBetween(Long.MinValue, -1)), lit(0L)).cast(LongType))
    val n = avail.agg(count(lit(1)).cast(LongType).as("n_src"))
    val f = o.crossJoin(broadcast(n))
      .withColumn("is_full",
        col("avail_tokens") * (col("n_src") - col("i") + 1L) <=
          lit(budget) - col("cum_prev"))
    val boundary = f.agg(
      min(when(!col("is_full"), col("i"))).as("istar"),
      min(when(!col("is_full"), col("cum_prev"))).as("cum_star"))
    f.crossJoin(broadcast(boundary))
      .withColumn("m", col("n_src") - coalesce(col("istar"), lit(0L)) + 1L)
      .withColumn("r_rem", lit(budget) - coalesce(col("cum_star"), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("istar").isNull || col("i") < col("istar"),
          col("avail_tokens"))
          .otherwise(expr("r_rem div m") +
            when(col("i") - col("istar") < col("r_rem") % col("m"), 1L)
              .otherwise(0L)).cast(LongType))
      .select(col("source"), col("avail_tokens"), col("alloc_tokens"),
        (col("alloc_tokens") === col("avail_tokens")).as("fully_used"))
      .orderBy("source")
  }

  /** The DuckDB replay of [[budgetWaterfill]] — identical sort order,
    * boundary rule, and integer remainder split.
    */
  private[graft] def budgetWaterfillOracleSql(
      budget: Long = 30000L): String =
    s"""WITH wt AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
wa AS (SELECT source, CAST(count(*) AS BIGINT) AS avail_tokens FROM wt
  WHERE len(w) > 0 GROUP BY source),
wo AS (SELECT source, avail_tokens,
  CAST(row_number() OVER (ORDER BY avail_tokens, source) AS BIGINT) AS i,
  CAST(coalesce(sum(avail_tokens) OVER (ORDER BY avail_tokens, source
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev,
  CAST(count(*) OVER () AS BIGINT) AS n_src
  FROM wa),
wf AS (SELECT *,
  avail_tokens * (n_src - i + 1) <= $budget - cum_prev AS is_full FROM wo),
wb AS (SELECT min(CASE WHEN NOT is_full THEN i END) AS istar,
  min(CASE WHEN NOT is_full THEN cum_prev END) AS cum_star FROM wf),
wx AS (SELECT wf.*, wb.istar,
  wf.n_src - coalesce(wb.istar, 0) + 1 AS m,
  $budget - coalesce(wb.cum_star, 0) AS r_rem FROM wf, wb)
SELECT source, avail_tokens,
  CAST(CASE WHEN istar IS NULL OR i < istar THEN avail_tokens
    ELSE r_rem // m + (CASE WHEN i - istar < r_rem % m THEN 1 ELSE 0 END)
    END AS BIGINT) AS alloc_tokens,
  CAST(CASE WHEN istar IS NULL OR i < istar THEN avail_tokens
    ELSE r_rem // m + (CASE WHEN i - istar < r_rem % m THEN 1 ELSE 0 END)
    END AS BIGINT) = avail_tokens AS fully_used
FROM wx ORDER BY source"""

  /** Exact pairwise shingle-Jaccard between SOURCES — which domains
    * mirror each other (aggregator sites, cross-posts): per source the
    * DISTINCT 3-gram shingle set ([[graft.expressions.ShingleSet]] —
    * the dedup family's shingles at corpus granularity), per source
    * pair |A∩B| via a shingle-keyed equi-join, Jaccard emitted q6. Only
    * pairs sharing at least one shingle appear.
    *
    * Scale: the per-gram join fan-out is bounded by #sources² (a gram
    * appears once per source after the distinct), so the join output is
    * at most #sources²·|shingle vocab| in the degenerate all-sources-
    * share-everything case and in practice overlap-sized; the distinct
    * and both aggs are map-side combined, keyed on (source, gram) /
    * gram / pair. No window, no funnel.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    sourceOverlapFrom(Tables.documents(spark, sfDir))
  }

  /** [[sourceOverlap]] over any (source, text) frame. sh is referenced
    * three times (sizes + both self-join sides) but deliberately NOT
    * fenced: all three consumers sit on the SAME Exchange((source, g))
    * under the distinct, which ReuseExchange already shares — a round-16
    * fence experiment measured SLOWER (the materialization cost of the
    * gram strings bought nothing). */
  def sourceOverlapFrom(corpus: DataFrame): DataFrame = {
    val sh = corpus
      .select(col("source"),
        explode(graft.expressions.VectorExpressions
          .shingleSetNative(col("text"))).as("g"))
      .distinct()
    val sizes = sh.groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n_sh"))
    val pairs = sh.as("a")
      .join(sh.withColumnRenamed("source", "source_b").as("b"), "g")
      .filter(col("source") < col("source_b"))
      .groupBy(col("source"), col("source_b"))
      .agg(count(lit(1)).cast(LongType).as("n_common"))
    pairs
      .join(sizes, "source")
      .join(sizes.select(col("source").as("source_b"),
        col("n_sh").as("n_sh_b")), "source_b")
      .select(col("source"), col("source_b"),
        col("n_sh").as("n_a"), col("n_sh_b").as("n_b"), col("n_common"),
        floor(col("n_common").cast("double")
          / (col("n_sh") + col("n_sh_b") - col("n_common"))
          * 1000000d + 0.5d).cast(LongType).as("jaccard_q6"))
      .orderBy("source", "source_b")
  }

  /** The DuckDB replay of [[sourceOverlap]] — the shingle rule matches
    * [[graft.expressions.ShingleSet]] exactly: raw single-space split
    * (empties kept), 3-gram shingles joined with single spaces, texts
    * under 3 words collapsing to ONE whole-text shingle, distinct per
    * source (UNION dedups across both branches).
    */
  private[graft] def sourceOverlapOracleSql: String =
    """WITH st AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
ssh AS (SELECT DISTINCT source,
  toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3] AS g
  FROM st, unnest(range(len(toks) - 2)) AS u(j)
  WHERE len(toks) >= 3
  UNION
  SELECT DISTINCT source, array_to_string(toks, ' ') AS g
  FROM st WHERE len(toks) < 3),
ssz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ssh GROUP BY source),
sp AS (SELECT a.source AS source, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_common
  FROM ssh a JOIN ssh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT sp.source, sp.source_b, za.n_sh AS n_a, zb.n_sh AS n_b, n_common,
  CAST(floor(CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)
    * 1000000 + 0.5) AS BIGINT) AS jaccard_q6
FROM sp JOIN ssz za ON za.source = sp.source
JOIN ssz zb ON zb.source = sp.source_b
ORDER BY sp.source, sp.source_b"""

  /** Number of seeded min-hashes in a source signature. 10⁶/16 is the
    * exact integer 62500, so the estimate quantizes with NO division.
    */
  private val SketchHashes = 16

  /** MinHash-sketch estimate of the [[sourceOverlap]] matrix — the
    * 100 TB path: the exact matrix joins every distinct shingle across
    * sources, which is corpus-sized; the sketch reduces each source to
    * a 16-value signature via `min(md5(k || ':' || gram))` per seed —
    * and because MIN is duplicate-insensitive, the signature needs NO
    * distinct: it is ONE map-side-combined agg over the raw exploded
    * grams (each partition contributes 16 running mins; the shuffle
    * moves #sources × 16 hex strings, nothing else). Pairing is a
    * #sources² broadcast self-join of the signature table. Estimated
    * Jaccard = matching positions / 16 (emitted q6 as `n_match·62500`,
    * pure integer); the exact matrix rides along as the audit column
    * (`err_q6`), exactly how ann_recall_grid carries brute-force truth
    * next to the IVF estimate — drop the exact side in production and
    * the query is one scan + one tiny join.
    *
    * Same md5-hex lexicographic-min hash family as the document-level
    * dedup ([[graft.expressions.MinHashOne]]), replayed verbatim by the
    * oracle.
    */
  def sourceOverlapSketch(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    sourceOverlapSketchFrom(Tables.documents(spark, sfDir))
  }

  /** [[sourceOverlapSketch]] over any (source, text) frame. */
  def sourceOverlapSketchFrom(corpus: DataFrame): DataFrame = {
    val grams = corpus.select(col("source"),
      explode(graft.expressions.VectorExpressions
        .shingleSetNative(col("text"))).as("g"))
    val minCols = (0 until SketchHashes).map(k =>
      min(md5(concat(lit(s"$k:"), col("g")))).as(s"mh$k"))
    // round 16 (§2): sig is self-joined (sig × bSide) — unfenced, the
    // broadcast side re-planned the whole gram + 16-min corpus pass;
    // the fence is #sources × 16 hex strings
    val sig = Fence(grams.groupBy("source").agg(minCols.head,
      minCols.tail: _*))
    val bSide = sig.columns.foldLeft(sig)((df, c) =>
      df.withColumnRenamed(c, c + "_b"))
    val nMatch = (0 until SketchHashes).map(k =>
      when(col(s"mh$k") === col(s"mh${k}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = sig.join(broadcast(bSide), col("source") < col("source_b"))
      .select(col("source"), col("source_b"), nMatch.as("n_match"))
      .withColumn("est_jaccard_q6",
        (col("n_match") * lit(1000000L / SketchHashes)).cast(LongType))
    est
      .join(sourceOverlapFrom(corpus)
          .select(col("source"), col("source_b"),
            col("jaccard_q6").as("exact_jaccard_q6")),
        Seq("source", "source_b"), "left")
      .withColumn("exact_jaccard_q6",
        coalesce(col("exact_jaccard_q6"), lit(0L)))
      .withColumn("err_q6",
        abs(col("est_jaccard_q6") - col("exact_jaccard_q6")).cast(LongType))
      .orderBy("source", "source_b")
  }

  /** The DuckDB replay of [[sourceOverlapSketch]]: identical seeded-md5
    * minima over the identical (duplicate-keeping) gram stream, the
    * identical exact matrix on the distinct side.
    */
  private[graft] def sourceOverlapSketchOracleSql: String =
    s"""WITH st AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
sgr AS (SELECT source, unnest(CASE WHEN len(toks) < 3
    THEN [array_to_string(toks, ' ')]
    ELSE list_transform(range(len(toks) - 2),
      i -> array_to_string(toks[i + 1:i + 3], ' ')) END) AS g
  FROM st),
smh AS (SELECT source, k, min(md5(k || ':' || g)) AS mh
  FROM sgr, (SELECT unnest(range($SketchHashes)) AS k) GROUP BY source, k),
ssig AS (SELECT source, list(mh ORDER BY k) AS mhs FROM smh GROUP BY source),
spr AS (SELECT a.source AS source, b.source AS source_b,
  CAST(len(list_filter(range($SketchHashes),
    i -> a.mhs[i + 1] = b.mhs[i + 1])) AS BIGINT) AS n_match
  FROM ssig a JOIN ssig b ON a.source < b.source),
ssh AS (SELECT DISTINCT source,
  toks[j + 1] || ' ' || toks[j + 2] || ' ' || toks[j + 3] AS g
  FROM st, unnest(range(len(toks) - 2)) AS u(j)
  WHERE len(toks) >= 3
  UNION
  SELECT DISTINCT source, array_to_string(toks, ' ') AS g
  FROM st WHERE len(toks) < 3),
ssz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ssh GROUP BY source),
sp AS (SELECT a.source AS source, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_common
  FROM ssh a JOIN ssh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source),
sx AS (SELECT sp.source, sp.source_b,
  CAST(floor(CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)
    * 1000000 + 0.5) AS BIGINT) AS exact_jaccard_q6
  FROM sp JOIN ssz za ON za.source = sp.source
  JOIN ssz zb ON zb.source = sp.source_b)
SELECT spr.source, spr.source_b, n_match,
  CAST(n_match * ${1000000L / SketchHashes} AS BIGINT) AS est_jaccard_q6,
  CAST(coalesce(exact_jaccard_q6, 0) AS BIGINT) AS exact_jaccard_q6,
  CAST(abs(n_match * ${1000000L / SketchHashes}
    - coalesce(exact_jaccard_q6, 0)) AS BIGINT) AS err_q6
FROM spr LEFT JOIN sx ON sx.source = spr.source AND sx.source_b = spr.source_b
ORDER BY spr.source, spr.source_b"""

  // ------------------------------------------ stratified eval sampler --

  /** Exact Hamilton (largest-remainder) apportionment of an eval-set
    * budget across (lang, source) strata — the "held-out set that looks
    * like the corpus" builder: each cell's quota is floor(evalN·n/N)
    * plus one extra for the cells with the largest remainders, so
    * quotas sum to exactly `evalN` and every comparison is INTEGER
    * (remainders share the denominator N, so `evalN·n mod N` compares
    * them exactly — no float shares anywhere). Ties on equal remainders
    * break by (lang, source).
    *
    * Scale: one map-side-combined (lang, source) count, then everything
    * runs on the #cells-row frame (a web corpus has thousands of cells,
    * not billions) — the rank window is cells-sized, whitelisted class.
    */
  def evalAlloc(spark: SparkSession, sfDir: String,
      evalN: Long = 100L): DataFrame =
    evalAllocFrom(Tables.documents(spark, sfDir), evalN)

  def evalAllocFrom(corpus: DataFrame, evalN: Long): DataFrame = {
    // the ONE corpus pass; the cells frame is fenced so the normalizer
    // and rank branches below never re-scan the corpus
    val cells = Fence(corpus.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_cell")))
    val totals = cells.agg(sum(col("n_cell")).cast(LongType).as("n_total"),
      count(lit(1)).cast(LongType).as("n_cells"))
    val based = cells.crossJoin(broadcast(totals))
      .withColumn("quota_base",
        expr(s"($evalN * n_cell) div n_total").cast(LongType))
      .withColumn("rem_num",
        expr(s"($evalN * n_cell) % n_total").cast(LongType))
    val leftover = based.agg(
      (lit(evalN) - sum(col("quota_base"))).cast(LongType).as("n_extra"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem_num").desc, col("lang"), col("source"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .select(col("lang"), col("source"), col("n_cell"),
        col("quota_base"), col("rem_num"),
        (col("rk") <= col("n_extra")).as("extra"),
        least(col("n_cell"),
          col("quota_base") + when(col("rk") <= col("n_extra"), 1L)
            .otherwise(0L)).cast(LongType).as("quota"))
      .orderBy("lang", "source")
  }

  /** The ADMITTED eval documents under [[evalAlloc]]'s quotas: per
    * (lang, source) cell, the first `quota` documents in seeded
    * content-hash order ("ev:" md5 — reproducible, layout-independent).
    *
    * Scale: the quotas frame is cells-sized (broadcast); admission is
    * [[TextPipeline.firstKPerKey]]'s per-key-targets form — the md5
    * hex prefix is a 256-way shard monotone in the admission order, so
    * shards wholly past a cell's quota never shuffle and no cell's
    * corpus ever sorts in one window task.
    */
  def evalSample(spark: SparkSession, sfDir: String,
      evalN: Long = 100L): DataFrame = {
    val quotas = evalAlloc(spark, sfDir, evalN)
      .select(concat_ws(":", col("lang"), col("source")).as("cell"),
        col("quota").as("target"))
    val ekey = md5(concat(lit("ev:"), col("doc_id")))
    TextPipeline.firstKPerKey(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          ekey.as("ev_key"))
        .withColumn("cell",
          concat_ws(":", col("lang"), col("source")))
        .withColumn("shard", substring(col("ev_key"), 1, 2)),
      "cell", Seq(col("ev_key"), col("doc_id")), Right(quotas))
      .select(col("doc_id"), col("lang"), col("source"), col("rk"))
      .orderBy("lang", "source", "rk")
  }

  /** The DuckDB replay of [[evalAlloc]]. */
  private[graft] def evalAllocOracleSql(evalN: Long = 100L): String =
    s"""WITH ac AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_cell
  FROM documents GROUP BY lang, source),
at AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n_total FROM ac),
ab AS (SELECT lang, source, n_cell,
  CAST($evalN * n_cell // n_total AS BIGINT) AS quota_base,
  CAST($evalN * n_cell % n_total AS BIGINT) AS rem_num
  FROM ac, at),
al AS (SELECT CAST($evalN - sum(quota_base) AS BIGINT) AS n_extra FROM ab),
ar AS (SELECT *, CAST(row_number() OVER (ORDER BY rem_num DESC, lang, source)
    AS BIGINT) AS rk FROM ab)
SELECT lang, source, n_cell, quota_base, rem_num,
  rk <= n_extra AS extra,
  CAST(least(n_cell, quota_base + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END)
    AS BIGINT) AS quota
FROM ar, al ORDER BY lang, source"""

  /** The DuckDB replay of [[evalSample]]. */
  private[graft] def evalSampleOracleSql(evalN: Long = 100L): String =
    s"""WITH ac AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_cell
  FROM documents GROUP BY lang, source),
at AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n_total FROM ac),
ab AS (SELECT lang, source, n_cell,
  CAST($evalN * n_cell // n_total AS BIGINT) AS quota_base,
  CAST($evalN * n_cell % n_total AS BIGINT) AS rem_num
  FROM ac, at),
al AS (SELECT CAST($evalN - sum(quota_base) AS BIGINT) AS n_extra FROM ab),
ar AS (SELECT *, CAST(row_number() OVER (ORDER BY rem_num DESC, lang, source)
    AS BIGINT) AS rk FROM ab),
aq AS (SELECT lang, source,
  CAST(least(n_cell, quota_base + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END)
    AS BIGINT) AS quota
  FROM ar, al),
ad AS (SELECT doc_id, lang, source,
  CAST(row_number() OVER (PARTITION BY lang, source
    ORDER BY md5('ev:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
  FROM documents)
SELECT ad.doc_id, ad.lang, ad.source, ad.rk
FROM ad JOIN aq ON ad.lang = aq.lang AND ad.source = aq.source
WHERE ad.rk <= aq.quota
ORDER BY ad.lang, ad.source, ad.rk"""
}
