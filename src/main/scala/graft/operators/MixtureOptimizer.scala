package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Domain-mixture reweighting — the data-mixing optimizer a pre-training
  * pipeline runs BEFORE [[TextPipeline.mixtureSample]]: exponentiated-
  * gradient updates of per-domain sampling weights driven by per-domain
  * EXCESS loss, the DoReMi scheme (Xie et al., NeurIPS'23) re-derived in
  * its static-loss form (one loss measurement, [[Rounds]] EG/normalize/
  * smooth rounds; full DoReMi re-measures under a re-trained proxy each
  * round, which a query engine cannot do — the measured loss here is the
  * corpus unigram cross-entropy, [[TextPipeline.lmPerplexityFrom]]'s
  * model). Domains whose text the reference model explains worst (highest
  * excess cross-entropy) are up-weighted, the "no domain left behind"
  * minimax intuition.
  *
  * Determinism discipline (everything the driver hashes is integer):
  *  - per-token NLL in micro-nats (floor(ln p · 10⁶ + 0.5), the
  *    [[UnigramTrainer]] micro-log rule), so per-domain sums are exact
  *    integer aggregates — partial-aggregation order cannot matter;
  *  - per-domain mean = integer floor division;
  *  - the EG factor e^xs is quantized to micro once
  *    (ef = floor(exp(xs·10⁻⁶)·10⁶ + 0.5), η = 1 per nat of excess);
  *  - weights live in ppm BIGINTs; each round is
  *    w·ef (exact integer, < 2⁵³) → one IEEE double division for the
  *    normalize → floor-quantize → 2% uniform smoothing in pure integer
  *    ops. Both engines run the identical op sequence.
  *
  * Scale shape: the loss measurement is the whole cost — ONE tokenize
  * pass, a map-side-combined `groupBy(token).count()` (vocab-sized)
  * joined back onto the occurrence rows (AQE-skew-splittable), a
  * 1-row total, and a #domains-row aggregate. The EG loop itself runs on
  * the collected #domains rows (bounded by construction: a mixture has
  * tens of domains, not millions — the BPE-merge-loop precedent) and is
  * replayed by the oracle as [[Rounds]] unrolled CTEs.
  */
object MixtureOptimizer {

  /** EG/normalize/smooth rounds — fixed so the oracle unrolls statically
    * (the pagerank discipline for iterative algorithms).
    */
  val Rounds = 5

  def domainReweight(spark: SparkSession, sfDir: String): DataFrame =
    domainReweightFrom(spark, Tables.documents(spark, sfDir))

  /** [[domainReweight]] over any (source, text) frame. */
  def domainReweightFrom(spark: SparkSession, corpus: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val t = corpus
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val freqs = t.groupBy("token")
      .agg(count(lit(1)).cast(LongType).as("freq"))
    val withFreq = t.join(freqs, "token")
    val total = t.agg(count(lit(1)).cast(LongType).as("n_total"))
    val perDomain = withFreq.crossJoin(broadcast(total))
      .withColumn("nll_micro",
        -floor(log(col("freq").cast(DoubleType) / col("n_total"))
          * 1000000d + 0.5d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_micro")).as("s"))
      .selectExpr("source", "n_tokens", "s div n_tokens AS xent_micro")
      .orderBy("source")
      .as[(String, Long, Long)]
      .collect() // bounded: one row per mixture domain
    val base = perDomain.map(_._3).min
    val k = perDomain.length.toLong
    val ef = perDomain.map { case (_, _, xent) =>
      math.floor(math.exp((xent - base).toDouble / 1000000.0)
        * 1000000.0 + 0.5).toLong
    }
    var w = Array.fill(perDomain.length)(Math.floorDiv(1000000L, k))
    var r = 0
    while (r < Rounds) {
      val u = Array.tabulate(w.length)(i => w(i) * ef(i))
      val s = u.sum // exact: every u < 2^53, k·max(u) < 2^63
      w = u.map { ui =>
        // the one double op per round: identical IEEE sequence in the
        // oracle's CAST(u AS DOUBLE) * 1000000.0 / CAST(su AS DOUBLE)
        val norm =
          math.floor(ui.toDouble * 1000000.0 / s.toDouble + 0.5).toLong
        Math.floorDiv(norm * 98L, 100L) + Math.floorDiv(20000L, k)
      }
      r += 1
    }
    perDomain.indices.map { i =>
      val (src, n, xent) = perDomain(i)
      (src, n, xent, xent - base, ef(i), w(i))
    }.toDF("source", "n_tokens", "xent_micro", "excess_micro", "ef_micro",
      "weight_ppm")
      .orderBy("source")
  }

  /** Per-document excess-loss data selection — the RHO-loss idea
    * (Mindermann'22) in its static-LM form: score each document by the
    * gap between its loss under the GENERIC reference model (corpus-wide
    * unigram LM) and under its own DOMAIN model (per-language unigram
    * LM), and select, per language, the documents the generic model
    * explains worst RELATIVE to what the domain model shows is
    * achievable — "learnable, not yet learned". High positive excess =
    * domain-characteristic text the mixture under-serves; ≈0 = text
    * both models price alike (generic filler); negative = text that is
    * globally common but locally rare.
    *
    * Determinism: per-token NLLs in micro-nats under BOTH models
    * (floor(ln p·10⁶+0.5) — the [[domainReweight]] rule), per-doc sums
    * exact integers; the per-token-mean ranking key is ONE IEEE division
    * of those integers (identical both engines), ties by doc_id; every
    * EMITTED column is BIGINT/VARCHAR.
    *
    * Scale shape: one tokenize pass; ONE (lang, token)-keyed
    * map-side-combined agg over the occurrence rows, with the global
    * token frequency and the per-language totals derived from that
    * types frame and joined back (AQE-skew-splittable; the language
    * totals broadcast); the 1-row corpus total broadcasts; per-doc
    * aggregation; a lang-partitioned top-k window over doc-sized rows.
    * No driver collection.
    */
  def excessLossSelect(spark: SparkSession, sfDir: String,
      k: Int = 20): DataFrame =
    excessLossSelectFrom(Tables.documents(spark, sfDir), k)

  /** [[excessLossSelect]] over any (doc_id, lang, text) frame. */
  def excessLossSelectFrom(corpus: DataFrame, k: Int = 20): DataFrame = {
    val t = corpus
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val total = t.agg(count(lit(1)).cast(LongType).as("n_total"))
    // ONE (lang, token)-keyed map-side-combined agg over the occurrence
    // rows; the global token frequency and the per-language totals both
    // derive from that types frame by re-aggregation — the occurrence
    // rows shuffle exactly once and never through a window partition
    // (the previous partitionBy("lang") count window put an entire
    // language's token stream through ONE task)
    val lf = t.groupBy("lang", "token")
      .agg(count(lit(1)).cast(LongType).as("lfreq"))
    val gf = lf.groupBy("token")
      .agg(sum(col("lfreq")).cast(LongType).as("gfreq"))
    val langTotals = lf.groupBy("lang")
      .agg(sum(col("lfreq")).cast(LongType).as("n_lang"))
    // enrich the type-sized frame first, then ONE (lang, token)
    // join-back — the occurrence rows shuffle once, not once per stat
    val lfAll = lf.join(gf, "token")
    val withFreqs = t
      .join(lfAll, Seq("lang", "token"))
      .join(broadcast(langTotals), Seq("lang"))
      .crossJoin(broadcast(total))
    val perDoc = withFreqs
      .withColumn("nll_g",
        -floor(log(col("gfreq").cast(DoubleType) / col("n_total"))
          * 1000000d + 0.5d))
      .withColumn("nll_l",
        -floor(log(col("lfreq").cast(DoubleType) / col("n_lang"))
          * 1000000d + 0.5d))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("nll_g")).cast(LongType).as("nll_global_micro"),
        sum(col("nll_l")).cast(LongType).as("nll_lang_micro"))
      .withColumn("excess_micro",
        col("nll_global_micro") - col("nll_lang_micro"))
      // fenced: firstKPerKey's offsets branch re-plans (and would
      // re-run) the whole token pipeline otherwise; the leaf is
      // doc-sized and text-free
      .transform(Fence)
    // per-lang top-k via the shard-pruned TextPipeline.firstKPerKey:
    // the excess-ratio range bucket is monotone in the DESC admission
    // order, so buckets wholly past k prune before any row shuffles —
    // no language's docs funnel through one sort task
    val ratio = col("excess_micro").cast(DoubleType) /
      col("n_tokens").cast(DoubleType)
    TextPipeline.firstKPerKey(
        perDoc.withColumn("shard", floor(-ratio / 65536.0d).cast(LongType)),
        "lang", Seq(ratio.desc, col("doc_id")), Left(k.toLong))
      .select(col("lang"), col("rk").as("rnk"), col("doc_id"),
        col("n_tokens"),
        col("nll_global_micro"), col("nll_lang_micro"), col("excess_micro"))
      .orderBy("lang", "rnk")
  }

  /** The DuckDB replay of [[excessLossSelect]]. */
  private[graft] def excessLossSelectOracleSql(k: Int = 20): String =
    s"""WITH xt AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents),
xtt AS (SELECT doc_id, lang, token FROM xt WHERE len(token) > 0),
xgf AS (SELECT token, CAST(count(*) AS BIGINT) AS gfreq FROM xtt GROUP BY token),
xlf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS lfreq FROM xtt
  GROUP BY lang, token),
xgt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM xtt),
xlt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM xtt GROUP BY lang),
xn AS (SELECT t.doc_id, t.lang,
  -CAST(floor(ln(CAST(g.gfreq AS DOUBLE) / n_total) * 1000000 + 0.5) AS BIGINT) AS nll_g,
  -CAST(floor(ln(CAST(l.lfreq AS DOUBLE) / lt.n_lang) * 1000000 + 0.5) AS BIGINT) AS nll_l
  FROM xtt t JOIN xgf g USING (token)
  JOIN xlf l ON l.lang = t.lang AND l.token = t.token
  JOIN xlt lt ON lt.lang = t.lang, xgt),
xd AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(nll_g) AS BIGINT) AS nll_global_micro,
  CAST(sum(nll_l) AS BIGINT) AS nll_lang_micro
  FROM xn GROUP BY doc_id, lang),
xr AS (SELECT lang, doc_id, n_tokens, nll_global_micro, nll_lang_micro,
  nll_global_micro - nll_lang_micro AS excess_micro,
  row_number() OVER (PARTITION BY lang
    ORDER BY CAST(nll_global_micro - nll_lang_micro AS DOUBLE)
      / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS rnk
  FROM xd)
SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, n_tokens,
  nll_global_micro, nll_lang_micro, excess_micro
FROM xr WHERE rnk <= $k ORDER BY lang, rnk"""

  /** The DuckDB replay: same micro-NLL measurement, [[Rounds]] unrolled
    * EG rounds in the same integer/one-double-division arithmetic.
    */
  private[graft] def domainReweightOracleSql: String = {
    val rounds = (1 to Rounds).map { r =>
      val prev = if (r == 1) "w0" else s"r${r - 1}"
      s"""u$r AS (SELECT source, n_tokens, xent_micro, xs, ef, w * ef AS u FROM $prev),
s$r AS (SELECT CAST(sum(u) AS BIGINT) AS su FROM u$r),
r$r AS (SELECT source, n_tokens, xent_micro, xs, ef,
  (CAST(floor(CAST(u AS DOUBLE) * 1000000.0 / CAST(su AS DOUBLE) + 0.5) AS BIGINT) * 98) // 100
    + (20000 // nd) AS w
  FROM u$r, s$r, kk)"""
    }.mkString(",\n")
    s"""WITH tokD AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
tD AS (SELECT source, token FROM tokD WHERE len(token) > 0),
tfD AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tD GROUP BY token),
totD AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tD),
nlD AS (SELECT source,
  -CAST(floor(ln(CAST(freq AS DOUBLE) / n_total) * 1000000 + 0.5) AS BIGINT) AS nll
  FROM tD JOIN tfD USING (token), totD),
dD AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(nll) AS BIGINT) AS s FROM nlD GROUP BY source),
xD AS (SELECT source, n_tokens, s // n_tokens AS xent_micro FROM dD),
bD AS (SELECT min(xent_micro) AS base FROM xD),
kk AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM xD),
eD AS (SELECT source, n_tokens, xent_micro, xent_micro - base AS xs,
  CAST(floor(exp(CAST(xent_micro - base AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) AS BIGINT) AS ef
  FROM xD, bD),
w0 AS (SELECT source, n_tokens, xent_micro, xs, ef, 1000000 // nd AS w FROM eD, kk),
$rounds
SELECT source, n_tokens, xent_micro, xs AS excess_micro, ef AS ef_micro,
  CAST(w AS BIGINT) AS weight_ppm
FROM r$Rounds ORDER BY source"""
  }
}
