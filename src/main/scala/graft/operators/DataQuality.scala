package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Data-validation and distribution-monitoring operators — the acceptance
  * gates a training-data pipeline runs before a corpus snapshot is allowed
  * near a training job (the Deequ/GreatExpectations role, Spark-first).
  *
  * Scale design: every operator here is ONE map-side-combined aggregation
  * pass over the table — constant-width state per metric regardless of
  * corpus size, no windows, no joins beyond a tiny result reshape. At
  * 100 TB these are the cheapest queries in the engine: they scale with
  * the scan and shuffle only metric rows.
  */
object DataQuality {

  /** Column-profile metrics over `documents` in long form
    * (column, metric, value) — row counts, null counts, distinct
    * cardinalities, and numeric min/max/mean. One aggregation computes
    * every metric (a single wide agg row, unpivoted after), so the corpus
    * is scanned exactly once.
    */
  def dataProfile(spark: SparkSession, sfDir: String): DataFrame =
    dataProfileFrom(Tables.documents(spark, sfDir))

  /** [[dataProfile]] over any frame with the documents schema. */
  def dataProfileFrom(docs: DataFrame): DataFrame = {
    val wide = docs.agg(
      count(lit(1)).cast(DoubleType).as("rows_n"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).cast(DoubleType)
        .as("text_nulls"),
      countDistinct(col("lang")).cast(DoubleType).as("lang_distinct"),
      countDistinct(col("source")).cast(DoubleType).as("source_distinct"),
      min(col("n_chars")).cast(DoubleType).as("n_chars_min"),
      max(col("n_chars")).cast(DoubleType).as("n_chars_max"),
      // mean as sum/count: associative partial aggregation AND the exact
      // division order the oracle uses (see Relational's avg discipline)
      (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("n_chars_mean"),
      min(col("doc_id")).cast(DoubleType).as("doc_id_min"),
      max(col("doc_id")).cast(DoubleType).as("doc_id_max"))
    wide
      .unpivot(Array.empty, wide.columns.map(col), "metric", "value")
      .select(
        // metric names are "<column>_<stat>"; split on the LAST underscore
        regexp_extract(col("metric"), "^(.*)_([a-z]+)$", 1).as("column"),
        regexp_extract(col("metric"), "^(.*)_([a-z]+)$", 2).as("metric"),
        round(col("value"), 4).as("value"))
      .orderBy("column", "metric")
  }

  /** Constraint checks over `documents` — the pass/fail acceptance row a
    * pipeline gates a snapshot on: completeness (no null text), id
    * uniqueness, domain membership of `lang`, and a length-bounds check.
    * One aggregation pass; emits (check, passed, observed) so the failure
    * diagnostics travel with the verdict.
    */
  def qualityChecks(spark: SparkSession, sfDir: String): DataFrame =
    qualityChecksFrom(Tables.documents(spark, sfDir))

  /** [[qualityChecks]] over any frame with the documents schema. */
  def qualityChecksFrom(docs: DataFrame): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val agg = docs.agg(
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("empty_text"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_ids"),
      sum(when(!col("lang").isin(langs: _*), 1L).otherwise(0L))
        .as("bad_lang"),
      sum(when(col("n_chars") < 0 || col("n_chars") > 1000000, 1L)
        .otherwise(0L)).as("bad_len"))
    agg
      .unpivot(Array.empty, agg.columns.map(col), "check", "observed")
      .select(col("check"), (col("observed") === 0L).as("passed"),
        col("observed").cast(LongType).as("observed"))
      .orderBy("check")
  }

  /** Referential-integrity audit across the star schema's foreign keys:
    * per relationship, the child row count and the orphan count (child
    * keys with no parent — a LEFT ANTI join, keyed, no row
    * multiplication) plus the pass verdict. The warehouse acceptance
    * gate that runs before every downstream join assumes its keys
    * resolve; at 100 TB each check is one broadcast-able anti-join (the
    * parent side is the smaller dimension in every pair).
    */
  def refIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    def t(n: String) = n match {
      case "events" => Tables.events(spark, sfDir)
      case _ => Tables.load(spark, sfDir, n)
    }
    val rels = Seq(
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"))
    val rows = rels.map { case (name, child, ck, parent, pk) =>
      val c = t(child).select(col(ck))
      val p = t(parent).select(col(pk))
      val nChild = c.count()
      val nOrphans = c.join(p, col(ck) === col(pk), "left_anti").count()
      (name, nChild, nOrphans, nOrphans == 0L)
    }
    import spark.implicits._
    rows.toDF("relationship", "n_child", "n_orphans", "passed")
      .orderBy("relationship")
  }

  /** Rolling z-score anomaly detection over the per-minute MAX metric
    * series — the adaptive-baseline upgrade of the reference's fixed
    * threshold alarm (SURVEY §2 P13/A1): instead of `max > 1`, a minute
    * alarms when its max deviates from the trailing 30 observed minutes'
    * distribution by more than 3 sigma (the CloudWatch anomaly-detection
    * alarm shape). Per (event_type, minute) max, then one keyed window.
    *
    * Determinism: the rolling mean/std come from DECIMAL(18,6) frame sums
    * (exact, order-free — cast once, summed as decimals), with the float
    * division/sqrt applied to identical operands on both engines. The
    * frame is ROWS 30 PRECEDING..1 PRECEDING over unique minutes, so
    * frame contents cannot tie-break differently.
    *
    * Scale: the minute frame is calendar-sized (rows = minutes observed,
    * volume-independent), so the window state at 100 TB is the same as at
    * 100 MB; the only corpus-sized work is the map-side-combined minute
    * max agg.
    */
  def metricAnomaly(spark: SparkSession, sfDir: String): DataFrame =
    metricAnomalyFrom(Tables.events(spark, sfDir))

  /** [[metricAnomaly]] over any frame with the events schema. */
  def metricAnomalyFrom(events: DataFrame): DataFrame = {
    val dec = DecimalType(18, 6)
    val minutes = events
      .groupBy(col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(max(col("value")).as("mx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("minute").rowsBetween(-30, -1)
    val mxDec = col("mx").cast(dec)
    minutes
      .withColumn("s1", sum(mxDec).over(w))
      .withColumn("s2", sum(mxDec * mxDec).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") >= 10)
      .withColumn("mean",
        col("s1").cast(DoubleType) / col("n"))
      .withColumn("variance",
        greatest((col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1").cast(DoubleType) /
            col("n")) / (col("n") - 1), lit(0.0)))
      .withColumn("z",
        when(sqrt(col("variance")) > 0.0,
          (col("mx") - col("mean")) / sqrt(col("variance")))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("minute"), col("mx"),
        round(col("mean"), 6).as("baseline_mean"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 3.0).as("is_anomaly"))
      .orderBy("event_type", "minute")
  }

  /** PSI drift over a NUMERIC distribution — the length histogram's
    * fixed-width bins (the [[graft.operators.Sketches.histQuantiles]]
    * binning) compared between two snapshots, epsilon-floored like
    * [[distDrift]]. Categorical drift ([[distDrift]]) catches mixture
    * shifts; this catches shape shifts within a column (truncation bugs,
    * boilerplate injection, a crawler that started splitting pages).
    * Two #bins-sized keyed aggs; nothing corpus-sized shuffles.
    */
  def histDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    histDriftFrom(d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1))
  }

  /** [[histDrift]] between any two frames with an n_chars column. */
  def histDriftFrom(a: DataFrame, b: DataFrame): DataFrame = {
    def bins(df: DataFrame, side: String) = df
      .groupBy(floor(col("n_chars") / 64).cast(LongType).as("bin"))
      .agg(count(lit(1)).as(s"n_$side"))
    val eps = 1e-6
    bins(a, "a").join(bins(b, "b"), Seq("bin"), "full")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("share_a",
        col("n_a").cast(DoubleType) / sum(col("n_a")).over())
      .withColumn("share_b",
        col("n_b").cast(DoubleType) / sum(col("n_b")).over())
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("share_a"), 6).as("share_a"),
        round(col("share_b"), 6).as("share_b"),
        round((greatest(col("share_a"), lit(eps)) -
          greatest(col("share_b"), lit(eps))) *
          log(greatest(col("share_a"), lit(eps)) /
            greatest(col("share_b"), lit(eps))), 6).as("psi_term"))
      .orderBy("bin")
  }

  /** Population-stability-index drift between two halves of the corpus
    * (doc_id parity stands in for yesterday/today snapshots; production
    * passes two real frames via [[distDriftFrom]]). Per-language shares of
    * each side plus the PSI contribution ln-weighted — the standard
    * monitoring gate for "did the mixture shift". Two tiny keyed
    * aggregations + a #langs-row join: nothing corpus-sized shuffles.
    */
  def distDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    distDriftFrom(d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1))
  }

  /** [[distDrift]] between any two corpus frames. Unseen-on-one-side
    * languages get the standard epsilon floor so the PSI stays finite.
    */
  def distDriftFrom(a: DataFrame, b: DataFrame): DataFrame = {
    def shares(df: DataFrame, side: String) = df
      .groupBy(col("lang"))
      .agg(count(lit(1)).as(s"n_$side"))
    val eps = 1e-6
    shares(a, "a").join(shares(b, "b"), Seq("lang"), "full")
      .select(col("lang"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("share_a",
        col("n_a").cast(DoubleType) / sum(col("n_a")).over())
      .withColumn("share_b",
        col("n_b").cast(DoubleType) / sum(col("n_b")).over())
      .select(col("lang"), col("n_a"), col("n_b"),
        round(col("share_a"), 6).as("share_a"),
        round(col("share_b"), 6).as("share_b"),
        round((greatest(col("share_a"), lit(eps)) -
          greatest(col("share_b"), lit(eps))) *
          log(greatest(col("share_a"), lit(eps)) /
            greatest(col("share_b"), lit(eps))), 6).as("psi_term"))
      .orderBy("lang")
  }

  /** Classifier-calibration reliability bins (the reliability-diagram
    * audit an ML-data pipeline runs before trusting a quality model's
    * scores as sampling weights): per language, documents decile-binned
    * by [[TextPipeline.qualityClassifierFrom]] score, each bin reporting
    * its size, positive-label count, and exact score sum. A calibrated
    * model's per-bin positive RATE tracks its mean score; a drifting one
    * shows up as bins whose n_pos/n_docs diverges — the audit surfaces
    * the exact integer numerators and leaves the division to the reader
    * (the tokenizer_fertility discipline: ratios are driver-surface
    * poison, integer sums are not).
    *
    * Determinism: the score is the classifier's position-ordered fold
    * rounded to 6 (already engine-agreed), then scaled to a BIGINT; the
    * decile comes from the exact per-lang rank via ntile's closed form
    * (first r tiles hold q+1 rows — the curriculum rule), identical to
    * the oracle's `ntile(10)` for any N. Scale: the classifier's one
    * token pass + model broadcast, then the
    * [[TextPipeline.rankPerKey]] two-level rank — a lang-alone ntile
    * window would sort a whole language's docs in ONE task at 10⁹ docs;
    * here the per-row window is (lang, score-range-bucket)-bounded —
    * and a 50-row agg.
    */
  /** Poisson-bootstrap confidence interval for the corpus mean document
    * length — the bootstrap that works on a cluster (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012):
    * instead of drawing n-of-n WITH replacement (global coordination),
    * each row enters resample b with an independent Poisson(1) weight,
    * which preserves the bootstrap distribution at any scale. B = 32
    * DETERMINISTIC resamples: the weight is the Poisson(1) inverse CDF
    * of a hash-uniform u(doc, b), so both engines draw identical
    * resamples. Emits the point estimate and the rank-2 / rank-31 of
    * the 32 resample means (the ~2.5/97.5 percentile CI) — the error
    * bar an eval report should carry next to any corpus statistic.
    *
    * Scale shape: one scan fanned ×32 carrying only (b, w, n_chars),
    * collapsed by a 32-group map-side-combined integer agg; the CI rank
    * window runs on the 32-row frame. Nothing else moves.
    */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame =
    bootstrapCiFrom(Tables.documents(spark, sfDir))

  /** [[bootstrapCi]] over any frame with (doc_id, n_chars) — the batch
    * path is [[bootstrapPartialsFrom]] + [[ciFromPartials]], EXACTLY the
    * pieces the streaming twin
    * ([[graft.streaming.StreamingSketches.ciPartialStream]]) emits and
    * finishes, so stream-merged frames and the batch row cannot drift. */
  def bootstrapCiFrom(docs: DataFrame): DataFrame =
    ciFromPartials(bootstrapPartialsFrom(docs))

  private[graft] val BootstrapB = 32

  /** The deterministic Poisson(1) resample weight of (`b`, `doc_id`) —
    * inverse CDF of a hash-uniform draw (cumulative e^-1/k! thresholds,
    * capped at 8; P(w > 8) < 1e-6 — the cap is part of the pinned
    * contract). Shared verbatim by the batch and streaming twins. */
  private[graft] def poissonWeight: org.apache.spark.sql.Column = {
    val u = conv(substring(md5(concat(lit("boot:"),
        col("b").cast(StringType), lit(":"),
        col("doc_id").cast(StringType))), 1, 8), 16, 10)
      .cast(LongType).cast(DoubleType) / 4294967296.0d
    when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .when(u < 0.9999167588507119, 6L)
      .when(u < 0.9999897508033253, 7L)
      .otherwise(8L)
  }

  /** The B addition-mergeable resample partials of a (doc_id, n_chars)
    * frame: per resample `b`, the integer weighted sum `sx` = Σ w·x and
    * weight `sw` = Σ w, plus the window's own totals (`n_docs`, `tx`) —
    * every column sums across shards/windows (the CMS/hist merge-later
    * discipline), so partial frames from ANY partition of the corpus
    * fold by per-b addition into the whole-corpus partials. */
  private[graft] def bootstrapPartialsFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .select(col("b"), poissonWeight.as("w"), col("n_chars"))
      .groupBy("b")
      .agg(sum(col("w") * col("n_chars")).as("sx"),
        sum(col("w")).as("sw"),
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("tx"))

  /** Finish (b, sx, sw, n_docs, tx) partial rows — possibly many per b,
    * from shards or stream windows — into the CI row: merge by per-b
    * addition, drop zero-weight resamples, rank the resample means, emit
    * (n_docs, est, ci_lo, ci_hi). Values are identical to running the
    * batch bootstrap over the union of the partials' inputs. */
  def ciFromPartials(partials: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = BootstrapB
    // quantize to 4 decimals via the explicit floor(x*1e4+0.5)/1e4 half-up
    // form, NOT round(,4): mean_b is a ratio of exact integers that can
    // land exactly on a 4-decimal half-point, where Spark's BigDecimal
    // HALF_UP and DuckDB's round disagree by 1 ulp (the minkContamination
    // doc-648 class). Both engines now run the same IEEE op sequence.
    def q4(c: org.apache.spark.sql.Column) =
      floor(c * 10000d + 0.5d) / 10000d
    val merged = partials.groupBy("b")
      .agg(sum(col("sx")).as("sx"), sum(col("sw")).as("sw"),
        sum(col("n_docs")).cast(LongType).as("n_docs"),
        sum(col("tx")).cast(LongType).as("tx"))
      .transform(Fence) // <= B rows; referenced by means AND totals
    val means = merged
      // a resample with total weight 0 has no mean: drop it BEFORE the
      // rank window in both engines (P = e^-n per resample — unreachable
      // for real corpora, but Spark orders NULLs first where DuckDB
      // defaults NULLS LAST, so the degenerate contract must be pinned)
      .filter(col("sw") =!= 0L)
      .select(col("b"),
        (col("sx").cast(DoubleType) / col("sw").cast(DoubleType))
          .as("mean_b"))
      // post-agg window: exactly B = 32 rows (the assign_ids offsets class)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mean_b").asc, col("b").asc)))
    // every b's (n_docs, tx) is the same whole-corpus total (each doc
    // contributes to every resample exactly once) — max picks it; the
    // coalesce pins the EMPTY-input contract to n_docs = 0 (what the
    // pre-refactor count(*) and the DuckDB oracle both return), not
    // NULL; est/ci stay NULL through the NULL numerator either way
    val tot = merged.agg(
      coalesce(max(col("n_docs")), lit(0L)).as("n_docs"),
      max(col("tx")).as("sx"))
    val ci = means.agg(
      min(when(col("rk") === 2, col("mean_b"))).as("lo"),
      min(when(col("rk") === B - 1, col("mean_b"))).as("hi"))
    tot.crossJoin(ci)
      .select(col("n_docs"),
        q4(col("sx").cast(DoubleType) / col("n_docs")).as("est"),
        q4(col("lo")).as("ci_lo"),
        q4(col("hi")).as("ci_hi"))
  }

  def calibBins(spark: SparkSession, sfDir: String): DataFrame =
    calibBinsFrom(Tables.documents(spark, sfDir))

  /** [[calibBins]] over any frame with the documents schema. */
  def calibBinsFrom(docs: DataFrame): DataFrame = {
    val clf = TextPipeline.qualityClassifierFrom(docs)
      .select(col("doc_id"), col("label"),
        floor(col("score") * 1000000d + 0.5d).cast(LongType).as("score_q6"))
    // fence the doc-sized text-free frame: the rank's offsets branch and
    // the totals agg would each re-plan (and re-run) the classifier
    // chain otherwise
    val base = clf.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .transform(Fence)
    val totals = base.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val ranked = TextPipeline.rankPerKey(base, "lang",
      floor(col("score_q6") / 65536.0d),
      Seq(col("score_q6"), col("doc_id")), "_crk")
      .join(broadcast(totals), "lang")
    val q = floor(col("n_total") / 10)
    val r = col("n_total") % 10
    val bigRows = (q + 1) * r
    ranked
      .withColumn("bin",
        when(col("_crk") <= bigRows, floor((col("_crk") + q) / (q + 1)))
          .otherwise(r + floor((col("_crk") - bigRows + q - 1) / q))
          .cast(LongType))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label")).as("n_pos"),
        sum(col("score_q6")).as("sum_score_q6"))
      .orderBy("lang", "bin")
  }

  /** Pearson correlation between the engine's per-document quality
    * signals — the redundancy audit a curation pipeline runs before
    * stacking filters (two signals correlated at 0.95 gate the same
    * documents twice; near-zero correlation means they carry independent
    * information). Signals: the heuristic quality score
    * ([[TextPipeline.textQuality]], q4-scaled), the trained classifier
    * score (q6-scaled), and the non-empty token count.
    *
    * Determinism discipline: each signal is quantized to a BIGINT
    * FIRST; all five correlation sums (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * EXACTLY (per-row products in Long — bounded by q6² ≈ 1e14 — summed
    * in DECIMAL(38,0); DuckDB's HUGEINT sums match digit-for-digit), and
    * only the final Pearson expression touches doubles, with the same
    * IEEE op sequence both sides. The emitted value is micro-scaled
    * (`corr_ppm` BIGINT) — no float on the driver surface. Zero variance
    * short-circuits to 0 on the integer side.
    *
    * Scale: one 1-row aggregation per signal pair over a three-way
    * doc_id join of scan-shaped inputs — at 100 TB this is three narrow
    * passes and a 3-row result.
    */
  def signalCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val heur = TextPipeline.textQuality(spark, sfDir)
      .select(col("doc_id"),
        floor(col("quality") * 10000d + 0.5d).cast(LongType).as("q_heur"))
    val clf = TextPipeline.qualityClassifierFrom(d)
      .select(col("doc_id"),
        floor(col("score") * 1000000d + 0.5d).cast(LongType).as("q_clf"))
    val ntok = d.select(col("doc_id"),
      size(filter(graft.functions.TextFunctions.tokens(col("text")),
        t => length(t) > 0)).cast(LongType).as("n_tok"))
    val joined = heur.join(clf, "doc_id").join(ntok, "doc_id")

    // ONE aggregation pass collects every moment (n + 3 sums + 3 squares
    // + 3 cross-products); the 1-row result is fenced so the three pair
    // rows below cannot re-execute the classifier chain per reference
    val dec = DecimalType(38, 0)
    def sums(x: String): Seq[org.apache.spark.sql.Column] = Seq(
      sum(col(x).cast(dec)).as(s"s_$x"),
      sum((col(x) * col(x)).cast(dec)).as(s"s_${x}_$x"))
    val wide = joined.agg(count(lit(1)).cast(dec).as("n"),
      (sums("q_heur") ++ sums("q_clf") ++ sums("n_tok") ++ Seq(
        sum((col("q_clf") * col("q_heur")).cast(dec)).as("s_q_clf_q_heur"),
        sum((col("q_clf") * col("n_tok")).cast(dec)).as("s_q_clf_n_tok"),
        sum((col("q_heur") * col("n_tok")).cast(dec)).as("s_q_heur_n_tok"))): _*)
      .transform(Fence)
    def pairCorr(x: String, y: String): DataFrame = {
      val (sx, sy, sxy) = (col(s"s_$x"), col(s"s_$y"), col(s"s_${x}_$y"))
      val (sxx, syy) = (col(s"s_${x}_$x"), col(s"s_${y}_$y"))
      wide.select(lit(x).as("sig_x"), lit(y).as("sig_y"),
        col("n").cast(LongType).as("n"),
        when((col("n") * sxx - sx * sx) === 0 ||
            (col("n") * syy - sy * sy) === 0, 0L)
          .otherwise(floor(
            (col("n") * sxy - sx * sy).cast(DoubleType)
              / (sqrt((col("n") * sxx - sx * sx).cast(DoubleType))
                * sqrt((col("n") * syy - sy * sy).cast(DoubleType)))
              * 1000000d + 0.5d).cast(LongType))
          .as("corr_ppm"))
    }
    pairCorr("q_clf", "n_tok")
      .unionByName(pairCorr("q_clf", "q_heur"))
      .unionByName(pairCorr("q_heur", "n_tok"))
      .orderBy("sig_x", "sig_y")
  }

  /** Exact ROC-AUC of the quality classifier per language — the standard
    * ranking-quality number reported beside the calibration table
    * ([[calibBins]]): the Mann–Whitney U statistic over the integer
    * micro-scores, with the textbook average-rank treatment of ties held
    * EXACTLY in integers (2·r̄ = 2·rank_min + ties − 1, so the per-class
    * rank sum never touches a float), and the final AUC ratio as ONE
    * shared IEEE expression quantized to micro-units.
    *
    * Scale: the classifier scoring pass, then ONE map-side-combined
    * (lang, score) tie-group aggregation — the Mann–Whitney statistic
    * needs only per-class rank SUMS, and those are computable entirely
    * from tie-group counts: rank_min(group) = 1 + rows-below, so
    * 2·r̄ = 2·below + n + 1 per group and r2_pos = Σ n_pos·(2·below+n+1).
    * Rows-below comes from a two-level prefix over the tie-group table
    * (bucket offsets via a #langs×#buckets window, within-bucket prefix
    * via a (lang, bucket)-bounded window) — no doc-sized sort window
    * anywhere, no pairwise comparisons (the naive AUC is O(n²)).
    * Languages missing a class are dropped (AUC undefined), matching
    * the oracle's HAVING.
    */
  def classifierAuc(spark: SparkSession, sfDir: String): DataFrame =
    classifierAucFrom(Tables.documents(spark, sfDir))

  /** [[classifierAuc]] over any frame with the documents schema. */
  def classifierAucFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clf = TextPipeline.qualityClassifierFrom(docs)
      .select(col("doc_id"), col("label"),
        floor(col("score") * 1000000d + 0.5d).cast(LongType).as("score_q6"))
    val j = clf.join(docs.select(col("doc_id"), col("lang")), "doc_id")
    // tie-group table: one row per (lang, score) — the ONLY corpus-sized
    // shuffle, map-side combined
    // fenced: the bucket-offsets branch below re-plans (and would
    // re-run) the classifier chain otherwise; the leaf is tie-group-sized
    val groups = j.groupBy(col("lang"), col("score_q6"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("label")).cast(LongType).as("g_pos"))
      .withColumn("_rb", floor(col("score_q6") / 65536.0d))
      .transform(Fence)
    val bucketTotals = groups.groupBy(col("lang"), col("_rb"))
      .agg(sum(col("n")).as("_bn"))
      .withColumn("_boff",
        sum(col("_bn")).over(
          Window.partitionBy("lang").orderBy("_rb")) - col("_bn"))
      .select(col("lang").as("_bk"), col("_rb").as("_bb"), col("_boff"))
    val wIn = Window.partitionBy("lang", "_rb").orderBy("score_q6")
    val withBelow = groups
      .join(broadcast(bucketTotals),
        col("lang") === col("_bk") && col("_rb") === col("_bb"))
      .withColumn("below",
        col("_boff") + sum(col("n")).over(wIn) - col("n"))
    // 2·r̄ for the group = 2·rank_min + ties − 1 = 2·below + n + 1
    withBelow.groupBy("lang")
      .agg(sum(col("g_pos")).cast(LongType).as("n_pos"),
        sum(col("n") - col("g_pos")).cast(LongType).as("n_neg"),
        sum(col("g_pos") * (lit(2L) * col("below") + col("n") + 1L))
          .cast(LongType).as("r2_pos"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("lang"), col("n_pos"), col("n_neg"),
        floor((col("r2_pos") - col("n_pos") * (col("n_pos") + 1L))
            .cast(DoubleType)
          / (lit(2L) * col("n_pos") * col("n_neg")).cast(DoubleType)
          * 1000000d + 0.5d).cast(LongType).as("auc_q6"))
      .orderBy("lang")
  }

  /** Confident-learning-style label-noise audit (Northcutt'21, the
    * rank-by-confidence core): the documents whose training label the
    * classifier contradicts MOST CONFIDENTLY — per language, rows where
    * `predicted != label`, ranked by |score| descending. In a labeling
    * pipeline these are the rows sent back for re-annotation; on synthetic
    * hash labels they measure how linearly separable the label really is.
    * Integer micro-score surface; top `k` per language.
    *
    * Scale: the classifier scoring pass + the
    * [[TextPipeline.firstKPerKey]] shard-pruned top-k over the
    * disagreement subset: confidence range-buckets (monotone in the
    * |score| DESC admission order) prune every bucket wholly past `k`
    * BEFORE any row shuffles — no language's disagreements ever funnel
    * through one sort task, however noisy the labels.
    */
  def labelNoise(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    labelNoiseFrom(Tables.documents(spark, sfDir), k)

  /** [[labelNoise]] over any frame with the documents schema. */
  def labelNoiseFrom(docs: DataFrame, k: Int = 20): DataFrame = {
    val clf = TextPipeline.qualityClassifierFrom(docs)
      .select(col("doc_id"), col("label"),
        floor(col("score") * 1000000d + 0.5d).cast(LongType).as("score_q6"),
        col("predicted"))
    // fenced: firstKPerKey's offsets branch re-plans (and would re-run)
    // the classifier chain otherwise; the leaf is disagreement-sized
    val dis = clf.filter(col("predicted") =!= (col("label") === 1L))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("shard",
        floor(-abs(col("score_q6")) / 65536.0d).cast(LongType))
      .transform(Fence)
    TextPipeline.firstKPerKey(dis, "lang",
        Seq(abs(col("score_q6")).desc, col("doc_id")), Left(k.toLong))
      .select(col("lang"), col("rk").as("rnk"), col("doc_id"),
        col("label"), col("score_q6"))
      .orderBy("lang", "rnk")
  }

  /** Cohen's kappa between the two production quality gates — the
    * heuristic gate ([[TextPipeline.textQuality]]'s `quality >= 0.5`) and
    * the model gate ([[TextPipeline.qualityClassifier]]'s `score > 0`) —
    * per language: chance-corrected agreement from the exact integer
    * confusion counts, the "do my curation signals actually agree beyond
    * their base rates" audit run before trusting an ensemble like
    * [[qualityFusion]]. The kappa ratio is computed from BIGINT moments
    * as ONE shared IEEE expression, quantized to micro-units; the
    * degenerate identical-constant-raters case pins kappa to 1.
    *
    * Scale: two scan-parallel scoring passes joined on doc_id, one
    * per-lang agg of four counters.
    */
  def gateKappa(spark: SparkSession, sfDir: String): DataFrame =
    gateKappaFrom(Tables.documents(spark, sfDir))

  /** [[gateKappa]] over any frame with the documents schema. */
  def gateKappaFrom(docs: DataFrame): DataFrame = {
    val heur = docs.select(col("doc_id"), col("lang"),
      (TextPipeline.qualityCol >= 0.5).as("h_pass"))
    val clf = TextPipeline.qualityClassifierFrom(docs)
      .select(col("doc_id"), col("predicted").as("c_pass"))
    val agg = clf.join(heur, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("h_pass") && col("c_pass"), 1L).otherwise(0L))
          .cast(LongType).as("n_both"),
        sum(when(col("h_pass") && !col("c_pass"), 1L).otherwise(0L))
          .cast(LongType).as("n_heur_only"),
        sum(when(!col("h_pass") && col("c_pass"), 1L).otherwise(0L))
          .cast(LongType).as("n_clf_only"),
        sum(when(!col("h_pass") && !col("c_pass"), 1L).otherwise(0L))
          .cast(LongType).as("n_neither"))
    val peNum =
      (col("n_both") + col("n_heur_only")) * (col("n_both") + col("n_clf_only")) +
        (col("n_clf_only") + col("n_neither")) * (col("n_heur_only") + col("n_neither"))
    val poNum = col("n") * (col("n_both") + col("n_neither"))
    val den = col("n") * col("n") - peNum
    agg.select(col("lang"), col("n"), col("n_both"), col("n_heur_only"),
        col("n_clf_only"), col("n_neither"),
        when(den === 0L, lit(1000000L)).otherwise(
          floor((poNum - peNum).cast(DoubleType) / den.cast(DoubleType)
            * 1000000d + 0.5d).cast(LongType)).as("kappa_q6"))
      .orderBy("lang")
  }

  /** Reciprocal-rank fusion of the engine's quality signals — the
    * ensemble gate a curation pipeline runs when no single signal is
    * trusted alone (the [[graft.operators.Retrieval]] hybrid_rrf recipe
    * applied to quality): per language, rank documents by the heuristic
    * score (desc), the classifier score (desc), and typicality under the
    * corpus unigram LM (mean micro-NLL asc — least surprising first),
    * fuse with the standard RRF kernel 1/(60+rank) held in EXACT integer
    * micro-units (1000000 div (60+r) — integer division both engines),
    * and keep the top `k` per language.
    *
    * Scale: the classifier pass + heuristic projection + one
    * map-side-combined `groupBy(token).count()` (vocab-sized) joined
    * back onto the occurrence rows (AQE-skew-splittable — a
    * token-partitioned window would funnel a stopword's entire stream
    * through one unsplittable task); the three full per-lang rankings
    * run through [[TextPipeline.rankPerKey]]'s two-level exact rank and
    * the fused top-k through the shard-pruned
    * [[TextPipeline.firstKPerKey]] — no language's docs ever funnel
    * through one sort task. All emitted columns BIGINT/VARCHAR.
    */
  def qualityFusion(spark: SparkSession, sfDir: String,
      k: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val d = Tables.documents(spark, sfDir)
    val heur = TextPipeline.textQuality(spark, sfDir)
      .select(col("doc_id"),
        floor(col("quality") * 10000d + 0.5d).cast(LongType).as("q_heur"))
    val clf = TextPipeline.qualityClassifierFrom(d)
      .select(col("doc_id"),
        floor(col("score") * 1000000d + 0.5d).cast(LongType).as("q_clf"))
    // round 16 (§2): t had three consumers (total, gf, nll) — unfenced,
    // each re-planned the corpus scan + tokenize + explode; the fence
    // tokenizes once, and n_total derives as sum(gfreq) from the
    // vocab-sized frame (every occurrence lands in exactly one token
    // group — identical count, one fewer occurrence pass)
    val t = d.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .transform(Fence)
    val gf = t.groupBy("token")
      .agg(count(lit(1)).cast(LongType).as("gfreq"))
    val total = gf.agg(sum(col("gfreq")).cast(LongType).as("n_total"))
    val nll = t
      .join(gf, "token")
      .crossJoin(broadcast(total))
      .withColumn("nll",
        -floor(log(col("gfreq").cast(DoubleType) / col("n_total"))
          * 1000000d + 0.5d))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("nll")).cast(LongType).as("nll_g"))
    // fence the doc-sized text-free signal frame: every rank branch
    // below (offsets + main per signal) re-plans its input, so an
    // unfenced classifier/LM chain would double per rank (166
    // exchanges measured) — behind the leaf each branch is a cheap scan
    val sig = nll.join(heur, "doc_id").join(clf, "doc_id").transform(Fence)
    // the three FULL per-lang rankings via the two-level exact rank
    // (TextPipeline.rankPerKey), each computed INDEPENDENTLY from the
    // fenced leaf and joined back on doc_id — chaining them would
    // double the plan per rank; each signal's value-range bucket is
    // monotone in its admission order (negated for DESC), so no
    // language's docs ever funnel through one sort task
    val nllRatio =
      col("nll_g").cast(DoubleType) / col("n_tokens").cast(DoubleType)
    def rankFrame(bucket: org.apache.spark.sql.Column,
        order: Seq[org.apache.spark.sql.Column], name: String): DataFrame =
      TextPipeline.rankPerKey(sig, "lang", bucket, order, name)
        .select(col("doc_id"), col(name))
    val ranked = sig
      .join(rankFrame(floor(-col("q_heur") / 256.0d),
        Seq(col("q_heur").desc, col("doc_id")), "r_heur"), "doc_id")
      .join(rankFrame(floor(-col("q_clf") / 65536.0d),
        Seq(col("q_clf").desc, col("doc_id")), "r_clf"), "doc_id")
      .join(rankFrame(floor(nllRatio / 65536.0d),
        Seq(nllRatio.asc, col("doc_id")), "r_nll"), "doc_id")
      .withColumn("rrf_micro",
        expr("(1000000 div (60 + r_heur)) + (1000000 div (60 + r_clf))" +
          " + (1000000 div (60 + r_nll))"))
      .transform(Fence) // firstKPerKey's offsets branch re-plans too
    // final fused top-k via the shard-pruned firstKPerKey: buckets
    // wholly past k never shuffle
    TextPipeline.firstKPerKey(
        ranked.withColumn("shard",
          floor(-col("rrf_micro") / 256.0d).cast(LongType)),
        "lang", Seq(col("rrf_micro").desc, col("doc_id")), Left(k.toLong))
      .select(col("lang"), col("rk").as("rnk"), col("doc_id"),
        col("r_heur"), col("r_clf"), col("r_nll"), col("rrf_micro"))
      .orderBy("lang", "rnk")
  }

  /** k-anonymity / l-diversity audit — the privacy gate a pipeline runs
    * before releasing person-derived rows (Sweeney'02, Machanavajjhala'06):
    * group by the quasi-identifier tuple (here `customer`'s nation +
    * account-balance band), report each equivalence class's size `k` and
    * the diversity `l` of the sensitive attribute (`c_mktsegment`), and
    * flag classes below the `k >= 5` / `l >= 2` release thresholds. A
    * violating class means those rows are re-identifiable (small crowd) or
    * attribute-disclosing (uniform sensitive value) and must be generalized
    * or suppressed before release.
    *
    * Scale: ONE map-side-combined aggregation keyed by the QI tuple —
    * state per class is two counters; at 100 TB it scales with the scan
    * (the distinct-l is a per-class count-distinct over a 5-value domain).
    */
  def kAnonymity(spark: SparkSession, sfDir: String,
      kMin: Int = 5, lMin: Int = 2): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    cust
      .select(col("c_nationkey").cast(LongType).as("nationkey"),
        floor(col("c_acctbal") / 1000d).cast(LongType).as("acctbal_band"),
        col("c_mktsegment"))
      .groupBy("nationkey", "acctbal_band")
      .agg(count(lit(1)).as("k"),
        countDistinct(col("c_mktsegment")).as("l"))
      .select(col("nationkey"), col("acctbal_band"), col("k"), col("l"),
        (col("k") < kMin).as("violates_k"),
        (col("l") < lMin).as("violates_l"))
      .orderBy("nationkey", "acctbal_band")
  }
}
