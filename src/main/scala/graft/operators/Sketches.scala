package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Cardinality and frequency sketches — the one-pass, constant-state
  * summaries a 100 TB profiling pass runs where exact `COUNT(DISTINCT)` /
  * per-token counts are infeasible. The sketch family here complements
  * the engine's existing ones: Misra-Gries (heavy hitters, StreamingText),
  * Bloom (membership, decontaminateBloom), MinHash/SimHash (similarity,
  * TextPipeline).
  *
  * HyperLogLog (Flajolet-Fusy-Gandouet-Meunier, AofA'07): hash each item,
  * use the first byte as a register index (m=256) and the position of the
  * leading 1-bit in the next 56 bits as the register value; the harmonic
  * mean of 2^-M_j estimates the distinct count with sigma = 1.04/sqrt(m)
  * ~ 6.5%. Spark ships approx_count_distinct (its own HLL++), but its
  * registers are private and its hash engine-specific — this
  * implementation derives registers from md5 STRINGS, so the DuckDB
  * oracle replays the sketch REGISTER-FOR-REGISTER and the estimate is
  * bit-identical across engines (the same reason the LSH family hashes
  * with md5).
  *
  * Count-min (Cormode-Muthukrishnan'05): d independent hash rows of w
  * counters; an item's estimate is the MIN over its d counters — always
  * an overcount, within eps*N with probability 1-delta for w=e/eps,
  * d=ln(1/delta). The frequency-estimation counterpart to Misra-Gries:
  * MG answers "which items are heavy", CMS answers "how heavy is this
  * item" for ANY item after one pass.
  *
  * Scale shape (both): tokenize once; the register/counter aggregation is
  * map-side combined, so each partition contributes at most m (resp. d*w)
  * rows per group to the shuffle regardless of row count — the whole
  * sketch moves #langs x 256 (resp. 4 x 512) longs. The HLL register sum
  * uses exact DECIMAL arithmetic on integer-scaled powers of two
  * (2^(57-rho)), so the reduction is order-independent — no
  * float-summation drift between engines or between runs.
  *
  * The register FRAME (lang, register, rho) is the library's sketch
  * interchange format: [[hllMerge]] unions frames with register-wise max
  * (HLL's defining property — merge of shard sketches IS the sketch of
  * the union), and [[appendHllShard]]/[[estimateHllStore]] persist it,
  * so a fleet of shard jobs each append ~#langs x 256 rows and a reader
  * estimates union cardinality without ever re-scanning text.
  */
object Sketches {

  private val M = 256 // registers: first 2 hex chars of md5
  private val TailHex = 14 // next 14 hex chars = 56 bits for rho
  /** 2^57 — the integer scale that makes every register term
    * 2^(57-rho) an exact long (rho in 1..57).
    */
  private val Scale = 1L << 57

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** rho = position of the first 1-bit in the 56-bit tail (1-based), 57
    * when the tail is all zeros — computed on the hex STRING (leading
    * zero hex digits, then a CASE on the first significant nibble), so
    * the oracle's replay is textually parallel.
    */
  private def rho(h: Column): Column = {
    val tail = substring(h, 3, TailHex)
    val sig = ltrim(tail, "0")
    val hexZeros = lit(TailHex) - length(sig)
    val nib = conv(substring(sig, 1, 1), 16, 10).cast("int")
    val nibZeros = when(nib >= 8, 0).when(nib >= 4, 1)
      .when(nib >= 2, 2).otherwise(3)
    when(length(sig) === 0, lit(57))
      .otherwise(hexZeros * 4 + nibZeros + lit(1))
      .cast("int")
  }

  /** (lang, register, r) for a token column's md5 — the pre-aggregation
    * register stream, shared by the batch sketch and the streaming twin
    * (which must window BEFORE the max-agg, so it asks to `keep` its
    * event-time column through the projection).
    */
  private[graft] def registerRows(langTokens: DataFrame,
      keep: Seq[Column] = Nil): DataFrame = {
    val h = md5(col("token"))
    langTokens.select(keep ++ Seq(col("lang"),
      conv(substring(h, 1, 2), 16, 10).cast("long").as("register"),
      rho(h).as("r")): _*)
  }

  private def langTokens(corpus: DataFrame): DataFrame =
    corpus
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)

  /** The per-language HLL sketch as a register frame (lang, register,
    * rho) — at most #langs x 256 rows whatever the corpus size. This is
    * the artifact shard jobs persist ([[appendHllShard]]) and
    * [[hllMerge]] combines.
    */
  def hllRegistersFrom(corpus: DataFrame): DataFrame =
    registerRows(langTokens(corpus))
      .groupBy("lang", "register")
      .agg(max(col("r")).as("rho"))

  /** Merge register frames: register-wise max. Exact, not approximate —
    * max is associative/commutative/idempotent, so merging per-shard
    * sketches gives bit-identically the sketch of the concatenated
    * corpus (spec-proven), which is why the sketch can be built
    * shard-by-shard and unioned for free.
    */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy("lang", "register")
      .agg(max(col("rho")).as("rho"))

  /** Estimate from a register frame: alpha_m * m^2 / sum_j 2^-M_j with
    * untouched registers contributing 2^0, and the standard small-range
    * correction m*ln(m/V) when the raw estimate is under 2.5m and V
    * registers are untouched. Output (lang, n_registers, hll_distinct).
    */
  def hllEstimate(registers: DataFrame): DataFrame = {
    val summed = registers.groupBy("lang")
      .agg(sum(expr("shiftleft(1L, 57 - rho)")
          .cast("decimal(38,0)")).as("s_present"),
        count(lit(1)).as("present"))
      .withColumn("s_total",
        col("s_present") + (lit(M) - col("present")).cast("decimal(38,0)")
          * lit(Scale).cast("decimal(38,0)"))
      .withColumn("v_zero", lit(M) - col("present"))
    // the raw estimate and small-range correction, spelled as the same
    // IEEE expression the oracle uses (literal-for-literal)
    val estRaw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(Scale.toDouble) / col("s_total").cast("double")
    val est = when(estRaw <= lit(640.0) && col("v_zero") > 0,
      lit(256.0) * log(lit(256.0) / col("v_zero").cast("double")))
      .otherwise(estRaw)
    summed.select(col("lang"), col("present").cast("long").as("n_registers"),
      round(est, 4).as("hll_distinct"))
  }

  /** Per-language HLL distinct-token estimate, with the exact count and
    * relative error alongside — the calibration columns a profiling run
    * reports at small SF (at 100 TB the exact column is the one you can
    * no longer afford; the sketch is the product).
    */
  def hllDistinctTokens(spark: SparkSession, sfDir: String): DataFrame =
    hllDistinctTokensFrom(docs(spark, sfDir))

  def hllDistinctTokensFrom(corpus: DataFrame): DataFrame = {
    val tok = langTokens(corpus)
    val est = hllEstimate(
      registerRows(tok).groupBy("lang", "register")
        .agg(max(col("r")).as("rho")))
    val exact = tok.groupBy("lang")
      .agg(countDistinct(col("token")).as("exact_distinct"))
    est
      .join(exact, Seq("lang"))
      .select(col("lang"), col("n_registers"), col("hll_distinct"),
        col("exact_distinct"),
        round(abs(col("hll_distinct") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy("lang")
  }

  /** Sketch two disjoint shards separately and estimate the union through
    * [[hllMerge]] — the query-shaped proof that the merge is lossless:
    * its DuckDB oracle sketches the WHOLE corpus in one pass, and the
    * hash compare passes only because merged-shard registers equal
    * whole-corpus registers bit-for-bit.
    */
  def hllUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val even = hllRegistersFrom(d.filter(pmod(col("doc_id"), lit(2)) === 0))
    val odd = hllRegistersFrom(d.filter(pmod(col("doc_id"), lit(2)) === 1))
    hllEstimate(hllMerge(Seq(even, odd))).orderBy("lang")
  }

  // ------------------------------------------------------- HLL store --

  /** Append one shard's register frame to the sketch store at `path`.
    * Each shard job writes its own ~#langs x 256 rows; nothing is read
    * or rewritten — the merge happens at estimate time over rows that
    * total #shards x #langs x 256, which stays driver-trivial at any
    * corpus size (the whole point of a mergeable sketch).
    */
  def appendHllShard(registers: DataFrame, path: String): Unit =
    registers.select(col("lang"), col("register"), col("rho"))
      .coalesce(1) // ≤ #langs x 256 rows: one small file per shard append
      .write.mode(SaveMode.Append).parquet(path)

  /** Estimate union cardinality from the store: read register rows (never
    * text), register-wise max across all appended shards, estimate.
    */
  def estimateHllStore(spark: SparkSession, path: String): DataFrame =
    hllEstimate(
      spark.read.parquet(path)
        .groupBy("lang", "register").agg(max(col("rho")).as("rho")))
      .orderBy("lang")

  // ------------------------------------------------------ Count-min --

  private val CmsDepth = 4 // d hash rows
  private val CmsWidth = 512 // w counters per row

  /** Counter column for hash row `i`: md5("i:" || token), first 3 hex
    * chars as an integer (0..4095) mod w. Seeding by prefix makes the d
    * rows independent while staying a pure string recipe the oracle
    * replays verbatim.
    */
  private def cmsCol(i: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$i:"), col("token"))), 1, 3),
      16, 10).cast("long"), lit(CmsWidth.toLong))

  /** The d (row, cell) coordinates of a token as an explodable array —
    * shared by the batch sketch, its probe side, and the streaming twin
    * so all three address the identical counters.
    */
  private[graft] def cmsCellArray: Column =
    array((0 until CmsDepth).map(i =>
      struct(lit(i).as("row"), cmsCol(i).as("cell"))): _*)

  /** Count-min sketch over corpus tokens, reported through its
    * calibration query: estimate the d x w sketch, then compare the CMS
    * estimate against the exact count for the corpus's top-`topN` tokens
    * (count desc, token asc — deterministic). `overcount = cms_est -
    * exact_count` is CMS's one-sided error, always >= 0 (spec-pinned).
    *
    * Plan: one tokenize pass feeds both the sketch agg (map-side
    * combined, <= d*w rows per partition shuffle) and the exact top-k
    * (TakeOrdered, no global sort); the 4-rows-per-token probe frame for
    * topN tokens is broadcast to the d*w-row sketch.
    */
  def cmsFreq(spark: SparkSession, sfDir: String, topN: Int = 20): DataFrame =
    cmsFreqFrom(docs(spark, sfDir), topN)

  /** The d x w counter frame (row, cell, cnt) for a corpus — the batch
    * CMS artifact; the streaming twin's per-window frames sum cell-wise
    * to exactly this (spec-pinned).
    */
  private[graft] def cmsSketchCellsFrom(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .select(explode(cmsCellArray).as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy("row", "cell")
      .agg(count(lit(1)).as("cnt"))

  def cmsFreqFrom(corpus: DataFrame, topN: Int = 20): DataFrame = {
    val tok = corpus
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val sketch = cmsSketchCellsFrom(corpus)
    val top = tok.groupBy("token")
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token"))
      .limit(topN)
    val probes = top.select(col("token"), col("exact_count"),
      explode(cmsCellArray).as("rc"))
      .select(col("token"), col("exact_count"),
        col("rc.row").as("row"), col("rc.cell").as("cell"))
    sketch.join(broadcast(probes), Seq("row", "cell"))
      .groupBy("token", "exact_count")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("token"), col("exact_count"),
        col("cms_est").cast("long").as("cms_est"),
        (col("cms_est") - col("exact_count")).cast("long").as("overcount"))
      .orderBy("token")
  }

  /** Heavy hitters via CMS PREFILTER + exact confirm — the scale-path
    * twin of [[TextPipeline.heavyHitters]] (which shuffles the full
    * per-token count table): here the d×w sketch (2048 counters,
    * bounded) is collected once and shipped back as a PLAN LITERAL map
    * (the classifierGateStream discipline), each token occurrence is
    * prefiltered map-side by its CMS estimate — min over its d counter
    * lookups — and only SURVIVING occurrences shuffle into the exact
    * count, whose filter then kills the false positives. CMS error is
    * one-sided (estimate >= true count, spec-pinned on cms_freq), so a
    * true heavy hitter always survives the prefilter — the answer is
    * EXACTLY the plain `count >= ceil(phi·N)` filter, which is what the
    * oracle runs (the decontaminate_bloom answer-neutrality pattern).
    *
    * Why it matters at 100 TB: a web-scale vocabulary makes even the
    * map-side partial agg's hash state (distinct tokens × partitions)
    * the bottleneck; the prefilter bounds BOTH shuffle volume and agg
    * state to candidate tokens, at the cost of one d×w-row sketch agg.
    */
  def heavyHittersCms(spark: SparkSession, sfDir: String,
      phi: Double = 0.01): DataFrame =
    heavyHittersCmsFrom(docs(spark, sfDir), phi)

  def heavyHittersCmsFrom(corpus: DataFrame, phi: Double = 0.01)
      : DataFrame = {
    val tok = corpus
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    // the bounded driver fetch: d×w = 2048 counter cells
    val cells = cmsSketchCellsFrom(corpus)
      .collect()
      .map(r => (r.getInt(0).toLong * CmsWidth + r.getLong(1),
        r.getLong(2)))
    // total occurrences = the row-0 counters' sum (no extra corpus pass)
    val total = cells.collect {
      case (k, cnt) if k < CmsWidth => cnt
    }.sum
    val threshold = math.ceil(phi * total).toLong
    val est =
      if (cells.isEmpty) lit(0L)
      else {
        val ks = cells.map(_._1).sorted
        val m = cells.toMap
        val cmsMap = map_from_arrays(lit(ks), lit(ks.map(m)))
        least((0 until CmsDepth).map(i =>
          coalesce(element_at(cmsMap, lit(i.toLong * CmsWidth) + cmsCol(i)),
            lit(0L))): _*)
      }
    tok
      .filter(est >= threshold) // map-side: no shuffle for cold tokens
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= threshold) // exact confirm
      .orderBy("token")
  }

  /** The DuckDB replay of [[heavyHittersCms]] — the PLAIN exact filter:
    * the CMS prefilter is answer-neutral by the one-sided-error
    * argument, so the oracle deliberately omits it (every run re-proves
    * neutrality, the decontaminate_bloom / salted_auto discipline).
    */
  private[graft] def heavyHittersCmsOracleSql: String =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tt AS (SELECT token FROM t WHERE len(token) > 0),
th AS (SELECT CAST(ceil(0.01 * count(*)) AS BIGINT) AS thr FROM tt),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM tt GROUP BY token)
SELECT token, n_occurrences FROM c, th
WHERE n_occurrences >= thr ORDER BY token"""

  // ------------------------------------------------------- AMS / F2 --

  private val AmsRows = 4 // independent sign-sketch rows (median-of-rows)
  private val AmsWidth = 512 // counters per row

  /** AMS/Count-Sketch second-frequency-moment estimate per language
    * (Alon-Matias-Szegedy'96, the Charikar'02 bucketed form): F2 =
    * sum over tokens of count² — the SELF-JOIN SIZE of the token stream,
    * the skew statistic an optimizer wants before planning a key-equi
    * join (F2 >> N² / distinct means a salted two-phase agg, the
    * [[graft.operators.Relational]] salted_counts trigger).
    *
    * Recipe is all-integer, so the sketch is exactly mergeable AND
    * hash-deterministic at any parallelism: signed counts per
    * (lang, row, bucket) cell (bucket = md5("i:"||token) first 3 hex mod
    * 512, sign = 4th hex nibble >= 8 — the [[cmsCol]] seeding idiom),
    * per-row estimate = sum of squared cells (exact longs), final
    * estimate = median of the 4 rows (avg of the 2nd/3rd order
    * statistics — exact halves). Cells shuffled: <= #langs x 4 x 512
    * rows after map-side combine; the x4 row fan-out happens before the
    * combine, not across the wire.
    */
  def f2Moment(spark: SparkSession, sfDir: String): DataFrame =
    f2MomentFrom(docs(spark, sfDir))

  def f2MomentFrom(corpus: DataFrame): DataFrame = {
    val toks = langTokens(corpus)
    val cells = toks
      .select(col("lang"), col("token"),
        explode(array((0 until AmsRows).map(lit): _*)).as("r"))
      .withColumn("h",
        md5(concat(col("r").cast("string"), lit(":"), col("token"))))
      .withColumn("bucket",
        pmod(conv(substring(col("h"), 1, 3), 16, 10).cast("long"),
          lit(AmsWidth.toLong)))
      .withColumn("sgn",
        when(conv(substring(col("h"), 4, 1), 16, 10) >= 8, 1L)
          .otherwise(-1L))
      .groupBy(col("lang"), col("r"), col("bucket"))
      .agg(sum(col("sgn")).as("x"))
    val rowEsts = cells.groupBy(col("lang"), col("r"))
      .agg(sum(col("x") * col("x")).as("f2_row"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("f2_row").asc)
    val med = rowEsts
      .withColumn("rn", row_number().over(w))
      .groupBy("lang")
      .agg((sum(when(col("rn").isin(2, 3), col("f2_row")))
        .cast("double") / 2.0).as("f2_est"))
    val exact = toks.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy("lang").agg(sum(col("c") * col("c")).as("f2_exact"))
    med.join(exact, Seq("lang"))
      .select(col("lang"), col("f2_est"), col("f2_exact"),
        round(abs(col("f2_est") - col("f2_exact").cast("double"))
          / col("f2_exact").cast("double"), 4).as("rel_err"))
      .orderBy("lang")
  }

  // ----------------------------------------------------- KMV / theta --

  /** k for the k-minimum-values sketch: sigma ~ 1/sqrt(k-2) ~ 11%. */
  private[graft] val KmvK = 64
  /** 2^52 — 13 hex chars of md5 as a dyadic rational, exact in a
    * double (the same exact-nibbles discipline as weighted_sample's u).
    */
  private val U52 = 4503599627370496.0

  /** u in [0,1): the hash's first 52 bits as an exact double. */
  private def u13(h: Column): Column =
    conv(substring(h, 1, 13), 16, 10).cast("double") / lit(U52)

  /** The per-language KMV (k-minimum-values / bottom-k theta) sketch:
    * the k smallest DISTINCT md5 values of the language's tokens
    * (Bar-Yossef et al., RANDOM'02; the bottom-k theta sketch of
    * Dasgupta et al.). Where HLL only estimates |A| (and unions), a
    * bottom-k sketch is a uniform sample of the distinct set, so it
    * additionally answers INTERSECTION / Jaccard between sketches —
    * [[kmvIntersectLangs]] — which HLL cannot express without
    * inclusion-exclusion blow-up.
    *
    * Scale shape: distinct-by-hash first collapses duplicates with a
    * map-side combine keyed (lang, shard, h) where shard = the hash's
    * first byte — so a token's duplicates all land in one shard and the
    * per-(lang, shard) bottom-k window never sees a language's whole
    * distinct set in one task (two-level bottom-k, the weighted_sample
    * machinery with ASCENDING hash order). Survivors: ≤ 256 x k rows
    * per language, thousands of times smaller than the token stream.
    */
  private[graft] def kmvSketchFrom(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = langTokens(corpus)
      .select(col("lang"), md5(col("token")).as("h"))
      .withColumn("shard", conv(substring(col("h"), 1, 2), 16, 10)
        .cast("int"))
    // distinct (lang, h) via groupBy — duplicates collapse map-side;
    // same-h rows share a shard by construction, so shard-local ranks
    // are global ranks after the second level
    val dist = hashed.groupBy("lang", "shard", "h").agg(count(lit(1)))
      .select("lang", "shard", "h")
    val w1 = Window.partitionBy("lang", "shard").orderBy(col("h").asc)
    val survivors = dist.withColumn("srk", row_number().over(w1))
      .filter(col("srk") <= KmvK)
    val w2 = Window.partitionBy("lang").orderBy(col("h").asc)
    survivors.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= KmvK)
      .select(col("lang"), col("h"), col("rk"))
  }

  /** Per-language KMV distinct estimate with exact calibration columns:
    * est = (k-1)/u_k where u_k is the k-th smallest hash as a dyadic
    * rational; when the language has fewer than k distinct tokens the
    * sketch IS the distinct set and the estimate is exact.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame =
    kmvDistinctFrom(docs(spark, sfDir))

  def kmvDistinctFrom(corpus: DataFrame): DataFrame = {
    val sk = kmvSketchFrom(corpus)
    val per = sk.groupBy("lang").agg(
      count(lit(1)).as("k_used"),
      max(when(col("rk") === KmvK, u13(col("h")))).as("u_k"))
    val exact = langTokens(corpus).groupBy("lang")
      .agg(countDistinct(col("token")).as("exact_distinct"))
    per.join(exact, Seq("lang"))
      .select(col("lang"), col("k_used").cast("long").as("k_used"),
        round(when(col("k_used") < KmvK, col("k_used").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) / col("u_k")), 4)
          .as("kmv_distinct"),
        col("exact_distinct"),
        round(abs(when(col("k_used") < KmvK, col("k_used").cast("double"))
            .otherwise(lit((KmvK - 1).toDouble) / col("u_k"))
          - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy("lang")
  }

  /** Pairwise intersection estimates between per-language token sets,
    * from the bottom-k sketches alone (the theta-sketch intersection):
    * for the pair (a, b), theta = u of the k-th smallest hash of the
    * MERGED sketch (the union's bottom-k — below-theta hashes are a
    * uniform sample of the union), and
    * `est = |S_a ∩ S_b ∩ {h < theta}| / theta`. Exact intersection
    * joined on for calibration. The pair frame is sketch-sized
    * (#langs x k rows self-joined); only the exact calibration touches
    * the corpus, and it is a keyed equi-join on h.
    */
  def kmvIntersectLangs(spark: SparkSession, sfDir: String): DataFrame =
    kmvIntersectLangsFrom(docs(spark, sfDir))

  def kmvIntersectLangsFrom(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Fence strategy (the connectedComponents discipline): the sketch is
    // referenced six times below (langs, two union fan-outs, both sides
    // of the common self-join) and the distinct token frame twice —
    // without a fence Catalyst re-plans the whole tokenize+window subtree
    // per reference. The sketch is <= #langs x k rows, the token frame
    // vocabulary-sized.
    val sk = Fence(kmvSketchFrom(corpus).select("lang", "h"))
    // the pair axis: #langs x #langs (< relation) — the ann_recall_grid
    // class of tiny-frame BNLJ (the only non-equi join here; everything
    // hash- or token-sized below is keyed)
    val langs = sk.select("lang").distinct()
    val pairs = langs.as("x").join(langs.as("y"),
        col("x.lang") < col("y.lang"))
      .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
    // union bottom-k per pair: each sketch row fans out to the pairs its
    // language participates in, through two broadcast EQUI-joins;
    // distinct, rank ascending; theta = u of rank k (1.0 when the union
    // is smaller than k — the sample is then the whole union)
    val unioned = broadcast(pairs)
      .join(sk.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
      .select("lang_a", "lang_b", "h")
      .union(broadcast(pairs)
        .join(sk.withColumnRenamed("lang", "lang_b"), Seq("lang_b"))
        .select("lang_a", "lang_b", "h"))
      .distinct()
    val wu = Window.partitionBy("lang_a", "lang_b").orderBy(col("h").asc)
    val theta = unioned.withColumn("rk", row_number().over(wu))
      .groupBy("lang_a", "lang_b")
      .agg(coalesce(max(when(col("rk") === KmvK, u13(col("h")))),
        lit(1.0)).as("theta"))
    // hashes in BOTH sketches: keyed self-equi-join on h
    val common = sk.as("a").join(sk.as("b"),
        col("a.h") === col("b.h") && col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        u13(col("a.h")).as("u"))
    val est = theta.join(
        common.join(theta, Seq("lang_a", "lang_b"))
          .filter(col("u") < col("theta"))
          .groupBy("lang_a", "lang_b")
          .agg(count(lit(1)).as("n_common")),
        Seq("lang_a", "lang_b"), "left")
      .select(col("lang_a"), col("lang_b"),
        round(coalesce(col("n_common"), lit(0L)).cast("double")
          / col("theta"), 4).as("kmv_intersect"))
    // exact |A ∩ B| for calibration: distinct (lang, token) equi-joined
    // on token — keyed, no pairwise blowup
    val dt = Fence(langTokens(corpus).select("lang", "token").distinct())
    val exact = dt.as("x").join(dt.as("y"),
        col("x.token") === col("y.token") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
      .agg(count(lit(1)).as("exact_intersect"))
    est.join(exact, Seq("lang_a", "lang_b"), "left")
      .select(col("lang_a"), col("lang_b"), col("kmv_intersect"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
      .orderBy("lang_a", "lang_b")
  }

  /** Pairwise set-DIFFERENCE estimates (the theta-sketch A-not-B): for
    * the pair (a, b), theta = the union bottom-k's k-th u (as in
    * [[kmvIntersectLangs]]); every sketch-a hash below theta is
    * membership-testable against sketch b EXACTLY (theta <= both
    * sketches' own u_k, so below-theta retention is complete), and
    * `est |A\\B| = |{h in S_a : u < theta, h not in S_b}| / theta` —
    * the asymmetric companion to intersection, the "how much NEW
    * material does crawl A add over B" planning question. Exact
    * calibration from per-language distinct counts minus the exact
    * intersection (no extra corpus pass beyond the intersect query's).
    */
  def kmvDifferenceLangs(spark: SparkSession, sfDir: String): DataFrame =
    kmvDifferenceLangsFrom(docs(spark, sfDir))

  def kmvDifferenceLangsFrom(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = Fence(kmvSketchFrom(corpus).select("lang", "h"))
    val langs = sk.select("lang").distinct()
    val pairs = langs.as("x").join(langs.as("y"),
        col("x.lang") < col("y.lang"))
      .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
    val unioned = broadcast(pairs)
      .join(sk.withColumnRenamed("lang", "lang_a"), Seq("lang_a"))
      .select("lang_a", "lang_b", "h")
      .union(broadcast(pairs)
        .join(sk.withColumnRenamed("lang", "lang_b"), Seq("lang_b"))
        .select("lang_a", "lang_b", "h"))
      .distinct()
    val wu = Window.partitionBy("lang_a", "lang_b").orderBy(col("h").asc)
    val theta = unioned.withColumn("rk", row_number().over(wu))
      .groupBy("lang_a", "lang_b")
      .agg(coalesce(max(when(col("rk") === KmvK, u13(col("h")))),
        lit(1.0)).as("theta"))
    // one-side survivors: pair fan-out LEFT ANTI the other sketch on
    // (lang, h) — keyed, sketch-sized
    def onlyCount(fanKey: String, antiKey: String, out: String) = {
      val fan = broadcast(pairs)
        .join(sk.withColumnRenamed("lang", fanKey), Seq(fanKey))
        .select("lang_a", "lang_b", "h")
      fan.join(sk.select(col("lang").as(antiKey), col("h")),
          Seq(antiKey, "h"), "left_anti")
        .join(theta, Seq("lang_a", "lang_b"))
        .filter(u13(col("h")) < col("theta"))
        .groupBy("lang_a", "lang_b")
        .agg(count(lit(1)).as(out))
    }
    val na = onlyCount("lang_a", "lang_b", "n_a_only")
    val nb = onlyCount("lang_b", "lang_a", "n_b_only")
    val dt = Fence(langTokens(corpus).select("lang", "token").distinct())
    val exd = dt.groupBy("lang").agg(count(lit(1)).as("nd"))
    val exInter = dt.as("x").join(dt.as("y"),
        col("x.token") === col("y.token") && col("x.lang") < col("y.lang"))
      .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
      .agg(count(lit(1)).as("exact_intersect"))
    theta
      .join(na, Seq("lang_a", "lang_b"), "left")
      .join(nb, Seq("lang_a", "lang_b"), "left")
      .join(exd.select(col("lang").as("lang_a"), col("nd").as("nd_a")),
        Seq("lang_a"))
      .join(exd.select(col("lang").as("lang_b"), col("nd").as("nd_b")),
        Seq("lang_b"))
      .join(exInter, Seq("lang_a", "lang_b"), "left")
      .select(col("lang_a"), col("lang_b"),
        round(coalesce(col("n_a_only"), lit(0L)).cast("double")
          / col("theta"), 4).as("kmv_diff_ab"),
        round(coalesce(col("n_b_only"), lit(0L)).cast("double")
          / col("theta"), 4).as("kmv_diff_ba"),
        (col("nd_a") - coalesce(col("exact_intersect"), lit(0L)))
          .as("exact_diff_ab"),
        (col("nd_b") - coalesce(col("exact_intersect"), lit(0L)))
          .as("exact_diff_ba"))
      .orderBy("lang_a", "lang_b")
  }

  // --------------------------------------- mergeable histogram sketch --

  /** Fixed bin width for the n_chars histogram. */
  private[graft] val HistWidth = 64L

  /** Quantiles reported by the estimate step. */
  private[graft] val HistPs = Seq(0.5, 0.9, 0.99)

  /** One shard's histogram: (bin, cnt) for `bin = floor(value / width)` —
    * the mergeable partial. A shard histogram is #bins rows regardless of
    * shard size (map-side combined), and two histograms merge by summing
    * counts per bin, so the shard/merge/estimate lifecycle is exactly the
    * HLL one: per-ingest-job sketch rows, lossless union, tiny estimate.
    */
  def histRegistersFrom(values: DataFrame, valueCol: String): DataFrame =
    values
      .groupBy(floor(col(valueCol) / HistWidth).cast(LongType).as("bin"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))

  /** Per-shard histograms in one pass: (shard, bin, cnt) — the frame an
    * ingest fleet appends to the store, one group of rows per shard job.
    */
  def histShardsFrom(values: DataFrame, shardCol: String,
      valueCol: String): DataFrame =
    values
      .groupBy(col(shardCol).as("shard"),
        floor(col(valueCol) / HistWidth).cast(LongType).as("bin"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))

  /** Merge shard histograms: per-bin count sum (lossless by construction). */
  def histMerge(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_ unionByName _)
      .groupBy("bin").agg(sum(col("cnt")).cast(LongType).as("cnt"))

  /** Quantile estimates from a merged histogram: for each p, the bin whose
    * cumulative count straddles `p * total`, linearly interpolated within
    * the bin. Runs entirely on the #bins-row frame — the windows are
    * single-partition but their input is sketch-sized, never corpus-sized.
    */
  def histQuantilesFrom(hist: DataFrame): DataFrame = {
    val byBin = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val target = col("p") * col("total")
    hist
      .withColumn("cum", sum(col("cnt")).over(byBin))
      .withColumn("total", sum(col("cnt")).over(all))
      .withColumn("p", explode(array(HistPs.map(lit): _*)))
      .filter(col("cum") >= target && (col("cum") - col("cnt")) < target)
      .select(col("p"), col("total").cast(LongType).as("n_total"), col("bin"),
        round(col("bin") * HistWidth + lit(HistWidth.toDouble) *
          (target - (col("cum") - col("cnt"))) / col("cnt"), 4).as("est"))
      .orderBy("p")
  }

  /** Sketch each source's documents separately and estimate n_chars
    * quantiles through [[histMerge]] — the [[hllUnion]]-shaped proof that
    * the merge is lossless: the DuckDB oracle histograms the WHOLE corpus
    * in one `GROUP BY bin` pass, and the hash compare passes only because
    * summed per-source bins equal whole-corpus bins exactly.
    */
  def histQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val perSource = histShardsFrom(
      d.select(col("source"), col("n_chars")), "source", "n_chars")
    histQuantilesFrom(
      perSource.groupBy("bin").agg(sum(col("cnt")).cast(LongType).as("cnt")))
  }

  /** Append one shard's histogram rows to the sketch store at `path` —
    * #bins rows per shard, nothing read or rewritten (the
    * [[appendHllShard]] discipline, count-summed instead of
    * register-maxed at estimate time).
    */
  def appendHistShard(hist: DataFrame, path: String): Unit =
    hist.select(col("bin"), col("cnt"))
      .coalesce(1) // #bins rows: one small file per shard append
      .write.mode(SaveMode.Append).parquet(path)

  /** Quantiles from the store: read bin rows (never values), sum per bin
    * across all appended shards, estimate.
    */
  def estimateHistStore(spark: SparkSession, path: String): DataFrame =
    histQuantilesFrom(
      spark.read.parquet(path)
        .groupBy("bin").agg(sum(col("cnt")).cast(LongType).as("cnt")))
}
