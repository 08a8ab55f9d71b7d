package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** LLM-training-data text operators over the `documents` table: stats,
  * quality scoring, language-ID, fingerprinting, and the dedup family
  * (exact, MinHash-LSH, SimHash, min-hash-blocked exact Jaccard).
  *
  * Scale design (the part that must survive 100 TB):
  *  - Per-document feature extraction (tokens, shingles, signatures) is a
  *    stateless codegen'd projection — embarrassingly parallel, no shuffle.
  *  - Every pairwise operator is BUCKETED: candidates come from an equi-join
  *    on a content-derived key (LSH band digest / SimHash band / global
  *    min-hash), so the shuffle is keyed by bucket and the cross product only
  *    happens within a bucket. There is no all-pairs `crossJoin` anywhere.
  *  - Expensive verification (exact Jaccard) runs only on candidate pairs,
  *    joined back to the shingle sets by doc_id (hash-partitioned join).
  *  - Skew: a degenerate bucket (e.g. thousands of copies of one page) would
  *    concentrate one key; AQE skew-join handles it, and the band digest
  *    domain (md5) is uniform otherwise.
  */
object TextPipeline {

  private val JaccardThreshold = 0.8

  /** docs with tokenized text — shared scan head. */
  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** Per-document statistics: token counts (whitespace + BPE-ish regex),
    * char length, distinct-token count, mean token length, stopword ratio.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(spark, sfDir).select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars"),
      size(toks).cast(LongType).as("n_tokens"),
      regexTokenCount(col("text")).cast(LongType).as("n_tokens_bpe"),
      size(array_distinct(toks)).cast(LongType).as("n_distinct"),
      round(aggregate(toks, lit(0), (acc, t) => acc + length(t))
        .cast(DoubleType) / size(toks), 4).as("avg_token_len"),
      round(stopwordHits(toks, LangProfiles.toMap.apply("en"))
        .cast(DoubleType) / size(toks), 4).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** The composite quality score in [0,1] over a `text` column: length,
    * stopword presence, lexical diversity. Shared by [[textQuality]] (which
    * reports it) and [[curriculum]] (which sorts by it) so the two can never
    * disagree about what "quality" means.
    */
  private[graft] def qualityCol: Column = {
    val toks = tokens(col("text"))
    val nTokens = size(toks).cast(DoubleType)
    val lengthScore = least(lit(1.0), nTokens / 50.0)
    val stopScore = least(lit(1.0),
      stopwordHits(toks, LangProfiles.toMap.apply("en")).cast(DoubleType)
        / nTokens * 5.0)
    val diversity = size(array_distinct(toks)).cast(DoubleType) / nTokens
    lengthScore * 0.4 + stopScore * 0.3 + diversity * 0.3
  }

  /** Composite quality score in [0,1]: length, stopword presence, lexical
    * diversity — the usual cheap pre-filters before expensive dedup/training.
    */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = qualityCol
    docs(spark, sfDir).select(
      col("doc_id"),
      round(quality, 4).as("quality"),
      (quality >= 0.5).as("is_quality"))
      .orderBy("doc_id")
  }

  /** Stopword-profile language ID (argmax over [[LangProfiles]]).
    *
    * One pass per document via the native
    * [[graft.expressions.LangIdBest]] expression — all five profile
    * counters advance in a single token loop and the argmax happens
    * in-expression, so the operator is a stateless scan-parallel projection
    * with NO exchange beyond the final orderBy. (The Column formulation it
    * replaces re-counted every profile per argmax reference unless fenced
    * behind a full-corpus `repartition(doc_id)` shuffle; `inline` pins
    * single evaluation structurally — the expression feeds a Generate node,
    * which Catalyst cannot re-inline per field reference.)
    */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    docs(spark, sfDir)
      .select(col("doc_id"),
        inline(array(graft.expressions.VectorExpressions
          .langIdNative(col("text")))))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): positional k-gram
    * hashes, MIN per sliding window of w=4, distinct survivors — one row per
    * (doc, fingerprint). Guarantees any shared run of >= w+k-1 tokens yields
    * a shared fingerprint.
    *
    * Plan shape: a single codegen'd projection via the native
    * [[graft.expressions.WinnowFingerprints]] expression — each shingle is
    * hashed exactly once and the rolling min runs in a tight loop per
    * document. Embarrassingly parallel, no shuffle: at 100 TB this scales
    * with the scan.
    */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    // One-pass native winnowing (hash each shingle once, rolling min, dedup)
    // — a stateless projection with NO exchange. The previous HOF sliding
    // window needed a repartition(doc_id) fence (a full-corpus shuffle of
    // text + hash arrays) to stop Catalyst re-inlining the md5 chain per
    // window position; the native expression removes both the fence and the
    // interpreted slice re-reads. Semantics spec: the HOF formulation kept
    // in TextVectorFunctionsSpec.
    docs(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.expressions.VectorExpressions.winnowNative(col("text")))
          .as("fingerprint"))
      .orderBy("doc_id", "fingerprint")
  }

  /** TF-IDF scoring — the classic relevance/quality weight a corpus pipeline
    * computes before sampling or filtering. tf from one (doc, token)
    * aggregation, df from one token aggregation, idf = ln((N+1)/(df+1))
    * (smoothed), N broadcast as a 1-row aggregate. Top 50 weights with a
    * total tiebreak order. At 100 TB both aggregations are map-side partial
    * over the explode; the df table is vocab-sized and broadcast back.
    */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // df via a map-side-combined keyed agg over tf joined back: tf is
    // (doc, token)-distinct, so count per token IS the document frequency.
    // Round 3 re-exploded the corpus for df (second text scan); rounds 4-9
    // used a token-partitioned count window over tf — but a window
    // partition has no partial aggregation and AQE cannot split it, so a
    // stopword's partition ("the" ≈ every document) is one task holding
    // ~10⁹ rows at 100 TB. The keyed agg combines map-side and its
    // join-back is AQE-skew-splittable. The df branch re-plans the tf
    // subtree (two text scans at PLANNING time — PlanAuditSpec pins it),
    // but the branches' partial-agg+Exchange stages canonicalize equal,
    // so AQE stage reuse executes the scan+tokenize once at runtime.
    val dfs = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val withDf = tf.join(dfs, "token")
    // N touches only the doc_id column (pruned scan, 1-row broadcast) — not
    // a second pass over the text.
    val n = docs(spark, sfDir).agg(countDistinct(col("doc_id")).as("n"))
    withDf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf").cast(DoubleType) *
          log((col("n") + 1).cast(DoubleType) / (col("df") + 1)), 4)
          .as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
      .limit(50)
  }

  /** Train/eval decontamination — the overlap check run before evaluation:
    * eval documents sharing a winnowing fingerprint with ANY train document
    * (shared >= w+k-1 token run) are contaminated. Split here is doc_id
    * parity; production passes any split predicate. The join is an
    * equi-join on the fingerprint hash — the scalable shape (hash shuffle
    * keyed by fingerprint, distinct-collapsed train side), never a
    * text-vs-text comparison.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val fp = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.expressions.VectorExpressions.winnowNative(col("text")))
          .as("fingerprint"))
    // Tag-and-split in ONE corpus pass (round 3 filtered fp twice, planning
    // two scan+winnow passes): one aggregation keyed by fingerprint records
    // both the train-side presence bit and the set of eval docs holding it;
    // contaminated fingerprints then explode back to (eval_doc, 1) and the
    // per-doc count is exact-distinct because each group row IS a distinct
    // fingerprint. The eval_docs set is bounded by the duplication cluster
    // size of one fingerprint — the same skew envelope as the dedup band
    // joins, which AQE skew-split covers.
    fp.groupBy(col("fingerprint"))
      .agg(
        max(when(col("doc_id") % 2 === 0, 1).otherwise(0)).as("in_train"),
        collect_set(when(col("doc_id") % 2 === 1, col("doc_id")))
          .as("eval_docs"))
      .filter(col("in_train") === 1 && size(col("eval_docs")) > 0)
      .select(explode(col("eval_docs")).as("eval_doc_id"))
      .groupBy(col("eval_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("eval_doc_id")
  }

  /** Deterministic hash sampling — the reproducible split selector of a
    * training-data pipeline: a document is in the `pct`% sample iff its
    * seeded content hash lands below the cut. No RNG, no state: the same
    * doc_id samples identically on every run, machine, and engine (the
    * DuckDB oracle recomputes the same buckets), and the split composes
    * with any partitioning. Stateless codegen'd filter at any scale.
    */
  def corpusSample(spark: SparkSession, sfDir: String, pct: Int = 10): DataFrame = {
    val bucket = conv(
      substring(md5(concat(lit("sample:"), col("doc_id"))), 1, 4), 16, 10)
      .cast(LongType) % 100
    docs(spark, sfDir)
      .filter(bucket < pct)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .orderBy("doc_id")
  }

  /** Stratified deterministic sampling — per-stratum rates on top of
    * [[corpusSample]]'s seeded content-hash buckets (the over/under-sampling
    * step of corpus mixing: downweight the dominant language, keep the
    * tails). Same properties: no RNG, reproducible on any engine/partition
    * layout, stateless codegen'd filter.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = conv(
      substring(md5(concat(lit("strat:"), col("doc_id"))), 1, 4), 16, 10)
      .cast(LongType) % 100
    val pct = when(col("lang") === "en", 5).otherwise(20)
    docs(spark, sfDir)
      .filter(bucket < pct)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .orderBy("doc_id")
  }

  /** Concat-and-chunk packing plan — the GPT-style preprocessing step that
    * concatenates a corpus stream into fixed `contextLen`-token chunks:
    * each document's start offset is the running token count before it, and
    * its chunk is offset / contextLen. Emits per-chunk packing stats.
    *
    * Scale shape (the [[assignIds]] two-level prefix sum applied to token
    * offsets): a naive `sum over (partition by lang order by doc_id)` would
    * serialize the dominant language of a web corpus into ONE window task.
    * Instead documents range-shard on `doc_id div shardWidth` WITHIN lang,
    * each (lang, shard) cumsums its own tokens in parallel, and the
    * cross-shard start offsets come from a prefix sum over the tiny
    * per-shard token-total table (#shards rows) broadcast back. Because
    * `shard` is monotonic in `doc_id`, offset(shard) + within-shard running
    * sum is exactly the per-lang running sum. ONE corpus-sized shuffle — the
    * (lang, shard) exchange the cumsum window requires; the offsets branch
    * partial-aggregates map-side and shuffles only #shards rows (it re-reads
    * the 2-column scan rather than sharing the window's exchange — trading a
    * second embarrassingly-parallel tokenize pass for NOT pushing the corpus
    * through a second full shuffle, the same trade [[assignIds]] makes).
    */
  def packChunks(spark: SparkSession, sfDir: String,
      contextLen: Int = 512, shardWidth: Long = 64): DataFrame =
    packChunksCore(
      docs(spark, sfDir).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")),
      contextLen, shardWidth)

  /** [[packChunks]] denominated in TOKENIZER tokens via the frozen merge
    * table — context windows hold model tokens, not whitespace words (see
    * [[tokenBudgetSampleBpe]] for the broadcast word→n_symbols counting
    * shape; the packing machinery is byte-identical after the count).
    */
  def packChunksBpe(spark: SparkSession, sfDir: String,
      contextLen: Int = 512, shardWidth: Long = 64,
      merges: Seq[(String, String)] = BpeTrainer.FrozenMerges): DataFrame =
    packChunksCore(bpePerDocTokenCounts(docs(spark, sfDir), merges),
      contextLen, shardWidth)

  /** Per-document packing MANIFEST — the artifact a packed-dataset writer
    * actually consumes: for every document, the chunk it starts in, its
    * offset inside that chunk, and whether it straddles a chunk boundary
    * (the truncation/continuation the writer must handle). Same admission
    * rule and prefix-sum machinery as [[packChunks]]; the summary query is
    * this manifest's groupBy.
    */
  def packManifest(spark: SparkSession, sfDir: String,
      contextLen: Int = 512, shardWidth: Long = 64): DataFrame =
    packOffsets(
      docs(spark, sfDir).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")),
      shardWidth)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        floor(col("start") / lit(contextLen.toDouble)).cast(LongType)
          .as("chunk_id"),
        (col("start") % contextLen).as("chunk_offset"),
        (floor(col("start") / lit(contextLen.toDouble)) =!=
          floor((col("start") + col("n_tokens") - 1) /
            lit(contextLen.toDouble))).as("spans_boundary"))
      .orderBy("lang", "doc_id")

  /** The two-level sharded prefix-sum packer shared by the whitespace and
    * BPE accountants — and by [[MultimodalPipeline.mediaShardPlan]]'s byte
    * denomination (scale notes on [[packChunks]]).
    */
  private[operators] def packChunksCore(counts: DataFrame, contextLen: Int,
      shardWidth: Long): DataFrame =
    packOffsets(counts, shardWidth)
      .withColumn("chunk_id",
        floor(col("start") / lit(contextLen.toDouble)))
      .groupBy(col("lang"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "chunk_id")

  /** Per-document cumulative START offsets via the two-level sharded
    * prefix sum — the shared engine under [[packChunksCore]] and
    * [[packManifest]] (scale notes on [[packChunks]]).
    */
  private def packOffsets(counts: DataFrame,
      shardWidth: Long): DataFrame = {
    val base = counts
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val offsets = base.groupBy("lang", "shard")
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("tok_offset",
        sum(col("shard_tokens")).over(
          Window.partitionBy("lang").orderBy("shard")) - col("shard_tokens"))
      .select(col("lang"), col("shard"), col("tok_offset"))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("start",
        col("tok_offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
  }

  /** Seeded content-hash bucket in [0, 100) — the shared primitive of the
    * deterministic sampling/split family (no RNG: reproducible on any
    * engine and partition layout; the DuckDB oracle recomputes it). Shared
    * with the streaming twins (graft.streaming.StreamingText): the bucket
    * derives from content, so batch and stream assign identically.
    */
  private[graft] def hashBucket(seed: String): Column =
    hashBucketOf(seed, col("doc_id"))

  /** [[hashBucket]] over an arbitrary key column — the group-split
    * primitive (bucket by SOURCE or CLUSTER instead of doc, so a whole
    * group lands in one split).
    */
  private[graft] def hashBucketOf(seed: String, key: Column): Column =
    conv(substring(md5(concat(lit(seed), key)), 1, 4), 16, 10)
      .cast(LongType) % 100

  /** Mixture sampling — per-source acceptance rates applied as a
    * broadcast-joined weights table, the way a corpus-mixing config reaches
    * a 100 TB pipeline (weights live in a tiny table keyed by source, not
    * in the query text). Rates here derive deterministically from the
    * source id; swap the `weights` frame for a config-loaded one in
    * production. Stateless filter after a broadcast hash join.
    */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val weights = docs(spark, sfDir).select(col("source")).distinct()
      .withColumn("accept_pct",
        (lit(5) + pmod(
          regexp_extract(col("source"), "([0-9]+)$", 1).cast(LongType),
          lit(4)) * 15).cast(LongType))
      .withColumnRenamed("source", "w_source")
    docs(spark, sfDir)
      .join(broadcast(weights), col("source") === col("w_source"))
      .filter(hashBucket("mix:") < col("accept_pct"))
      .select(col("doc_id"), col("source"), col("accept_pct"),
        hashBucket("mix:").as("bucket"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle — the global permutation + sharding pass
    * before training: a seeded content hash is the sort key, documents are
    * hash-assigned to `shards`, and the position within a shard is a
    * per-shard window (parallel by shard — no global sort, no single
    * partition; the permutation is the hash order, which is uniform).
    */
  def corpusShuffle(spark: SparkSession, sfDir: String,
      shards: Int = 8): DataFrame = {
    val key = md5(concat(lit("shuf:"), col("doc_id")))
    val w = Window.partitionBy(col("shard_id")).orderBy(col("shuffle_key"))
    docs(spark, sfDir)
      .select(col("doc_id"), key.as("shuffle_key"),
        (conv(substring(key, 29, 4), 16, 10).cast(LongType) % shards)
          .as("shard_id"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("shard_id"), col("pos"), col("doc_id"))
      .orderBy("shard_id", "pos")
  }

  /** Fixed-size per-stratum sample — exactly `k` documents per language
    * (fewer if the stratum is smaller), chosen by seeded content-hash order
    * so the sample is reproducible and partition-layout independent (the
    * deterministic stand-in for per-key reservoir sampling).
    *
    * Scale shape: rides [[firstKPerKey]] — the admission order's leading
    * term is the md5 key itself, so its first two hex chars are a
    * 256-way shard that is monotone NON-DECREASING in it (lowercase-hex
    * lexicographic prefix order == full-string order). Shards wholly past
    * k never shuffle; no language's corpus ever sorts in one window task
    * (the naive `row_number over partitionBy(lang)` this replaced put the
    * dominant language's entire document set through ONE task).
    */
  def sampleFixedK(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val fkey = md5(concat(lit("fk:"), col("doc_id")))
    firstKPerKey(
      docs(spark, sfDir)
        .select(col("doc_id"), col("lang"), fkey.as("fk_key"))
        .withColumn("shard", substring(col("fk_key"), 1, 2)),
      "lang", Seq(col("fk_key"), col("doc_id")), Left(k.toLong))
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** Weighted per-language sample without replacement — Efraimidis-
    * Spirakis (IPL'06) A-ES: each document draws a deterministic uniform
    * u from md5("ws:" || doc_id) (first 8 hex chars / 2^32 — exact in a
    * double, and the oracle rebuilds the same integer nibble-by-nibble)
    * and competes with key u^(1/w); the k largest keys per language are
    * EXACTLY a weight-proportional without-replacement draw. Weight =
    * n_chars (floored at 1): longer documents proportionally likelier,
    * the "sample by content volume, not by row count" shape a curation
    * pass wants.
    *
    * Determinism: keys are pure functions of doc_id, so the sample is
    * partition-layout- and arrival-order-independent (the property the
    * streaming twin leans on); ties (u collisions) break by doc_id on
    * both engines. The only cross-engine exposure is a 1-ulp pow
    * difference flipping the order of two keys within ~1 ulp of each
    * other — the emb_kmeans d2-distance class of exposure, carried green
    * since round 4.
    *
    * Scale shape: two-level top-k — per-(lang, shard) winners first (a
    * 64-doc-wide shard window, k rows survive per shard), then the final
    * per-language rank over the shard-winner frame (#shards x k rows,
    * thousands of times smaller than the corpus). No language's full
    * document set ever sorts in one task, unlike a naive per-lang window.
    */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame =
    weightedSampleFrom(docs(spark, sfDir), k)

  def weightedSampleFrom(corpus: DataFrame, k: Int = 20,
      shardWidth: Long = 64): DataFrame = {
    val base = corpus
      .select(col("doc_id"), col("lang"), esKey(col("doc_id"),
        col("n_chars")).as("es_key"))
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val w1 = Window.partitionBy("lang", "shard")
      .orderBy(col("es_key").desc, col("doc_id"))
    val survivors = base
      .withColumn("srk", row_number().over(w1))
      .filter(col("srk") <= k)
    val w2 = Window.partitionBy("lang")
      .orderBy(col("es_key").desc, col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(w2).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), round(col("es_key"), 6)
        .as("es_key"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** The A-ES competition key u^(1/w) for a document — shared by the
    * batch operator and the streaming twin so both admit the identical
    * sample by construction.
    */
  private[graft] def esKey(docId: Column, nChars: Column): Column = {
    val u = conv(substring(md5(concat(lit("ws:"), docId)), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    pow(u, lit(1.0) / greatest(nChars, lit(1L)).cast("double"))
  }

  /** Wide-to-long reshape of the per-document stats — the melt/unpivot
    * shape feeding metric stores and plotting layers. Stateless row
    * explosion (3x), no shuffle beyond the final order.
    */
  def unpivotStats(spark: SparkSession, sfDir: String): DataFrame =
    textStats(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("n_distinct"))
      .unpivot(Array(col("doc_id")), Array(col("n_chars"), col("n_tokens"),
        col("n_distinct")), "metric", "value")
      .orderBy("doc_id", "metric")

  /** Dense consecutive global ids (0..N-1 in doc_id order) WITHOUT the
    * single-partition global window a naive `row_number() OVER (ORDER BY
    * doc_id)` plans: documents range-shard deterministically on
    * `doc_id div shardWidth`, each shard numbers its rows in parallel, and
    * shard offsets come from a prefix sum over the tiny per-shard count
    * table (the only unpartitioned window, #shards rows) broadcast back.
    * This is the 100 TB replacement for zipWithIndex-style id assignment.
    */
  def assignIds(spark: SparkSession, sfDir: String,
      shardWidth: Long = 64): DataFrame = {
    val sharded = docs(spark, sfDir).select(col("doc_id"))
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val offsets = sharded.groupBy("shard").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        sum(col("cnt")).over(Window.orderBy("shard")) - col("cnt"))
      .select("shard", "offset")
    val w = Window.partitionBy("shard").orderBy("doc_id")
    sharded.join(broadcast(offsets), "shard")
      .select(col("doc_id"),
        (col("offset") + row_number().over(w) - 1).cast(LongType)
          .as("global_id"))
      .orderBy("doc_id")
  }

  /** Train/val/test split — the 90/5/5 reproducible partition of a corpus,
    * labeled by seeded content-hash bucket. Same determinism contract as
    * [[corpusSample]]; stateless codegen'd projection.
    */
  def splitTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = hashBucket("split:")
    docs(spark, sfDir)
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Group split by SOURCE — the leakage defense [[splitTrain]]'s per-doc
    * hash cannot give: documents from one domain are near-duplicates of
    * each other often enough that splitting them across train/test
    * contaminates evaluation, so the split key is the source, and every
    * document of a source lands in the same split. Stateless projection,
    * same seeded-hash determinism as the rest of the split family.
    */
  def splitBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = hashBucketOf("gsplit:", col("source"))
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"), bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Near-duplicate-safe split: connected components over the MinHash
    * candidate graph label each near-dup cluster, singletons label
    * themselves, and the split key is the CLUSTER id — so a document and
    * its near-duplicates can never straddle train/test (the leakage the
    * per-doc hash split cannot prevent and the source split only
    * approximates). The CC labels come from the same pointer-jumping loop
    * as [[dedupClusters]]; the split itself is a left join against those
    * labels plus a stateless bucket.
    */
  def splitLeakageSafe(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val withCluster = docs(spark, sfDir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val bucket = hashBucketOf("csplit:", col("cluster_id"))
    withCluster
      .select(col("doc_id"), col("cluster_id"), bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Sliding-window chunking — the retrieval-prep splitter: overlapping
    * `win`-token windows every `stride` tokens, with the tail window
    * allowed to run short. Integer-exact chunk count (no float ceil) keeps
    * both engines bit-identical.
    *
    * One pass per document via the native
    * [[graft.expressions.SlidingChunks]] expression, consumed through
    * `inline`: each document tokenizes once and emits its chunk structs
    * from a tight loop — a stateless scan-parallel projection with NO
    * exchange beyond the final orderBy. (The sequence/slice Column chain it
    * replaces needed a full-corpus `repartition(doc_id)` fence to stop
    * Catalyst re-tokenizing per chunk reference, and re-read each window
    * slice interpreted.)
    */
  def chunkSliding(spark: SparkSession, sfDir: String,
      win: Int = 32, stride: Int = 24): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    docs(spark, sfDir)
      .select(col("doc_id"),
        inline(graft.expressions.VectorExpressions
          .slidingChunksNative(col("text"), win, stride)))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Exact heavy hitters: tokens with frequency above total/k. Two map-side
    * partial aggregations (token counts, then the 1-row total broadcast);
    * the threshold compare is integer-exact (`n * k > total`, no division)
    * so both engines agree bit-wise. At 100 TB the token key-space is
    * vocabulary-sized, so the shuffled state is small; for a streaming or
    * one-pass variant swap in a Misra-Gries summary per partition with the
    * same output contract.
    */
  def heavyHitters(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame = {
    val tokCounts = docs(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val tot = tokCounts.agg(sum(col("n")).as("total"))
    tokCounts.crossJoin(broadcast(tot))
      .filter(col("n") * k > col("total"))
      .select(col("token"), col("n"), col("total"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Exact per-language cardinalities (docs, distinct tokens, token
    * occurrences). countDistinct dedups (lang, token) map-side before the
    * shuffle; the approximate HLL twin for 100 TB (same query,
    * approx_count_distinct) is spec-pinned to its error bound in
    * SketchSpec.
    */
  def corpusDistinct(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("token")).as("distinct_tokens"),
        count(lit(1)).as("token_occurrences"))
      .orderBy("lang")

  /** Sequence-length bucketing — the packing/batching plan a training
    * pipeline computes before sharding sequences into fixed-size contexts.
    * Exact integer boundaries (CASE, not float log2) keep the bucketing
    * bit-identical across engines. One tiny keyed aggregation.
    */
  def seqLenBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast(LongType)
    val bucket = when(n <= 16, "a_le16").when(n <= 32, "b_le32")
      .when(n <= 64, "c_le64").when(n <= 128, "d_le128")
      .otherwise("e_gt128")
    docs(spark, sfDir)
      .select(bucket.as("bucket"), n.as("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("bucket")
  }

  /** Normalization pipeline: lowercase, collapse whitespace, strip
    * non-alphanumerics — the canonical text cleaning pass before hashing/
    * dedup, emitted with the digest of the normalized form. Pure codegen'd
    * string expressions.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val normalized = regexp_replace(
      regexp_replace(lower(trim(col("text"))), "[^a-z0-9 ]", ""),
      " +", " ")
    docs(spark, sfDir).select(
      col("doc_id"),
      length(normalized).cast(LongType).as("norm_len"),
      md5(normalized).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: token -> total count + document frequency, top 20 —
    * the vocab-building pass of a tokenizer/BPE pipeline. explode -> two-level
    * agg; at 100 TB the token key-space is small (vocab), so the final
    * aggregation is tiny after map-side partial aggregation.
    */
  def textVocab(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_total").desc, col("token"))
      .limit(20)

  /** Per-language corpus profile: doc counts, token/char totals and ranges,
    * mean tokens per doc — the partition-planning stats a corpus pipeline
    * computes before sharding work by language. All-integer aggregation
    * (exact), one tiny shuffle on the language key.
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    val nTokens = size(tokens(col("text"))).cast(LongType)
    docs(spark, sfDir)
      .select(col("lang"), nTokens.as("nt"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(col("nt")).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_tokens"))
      .orderBy("lang")
  }

  /** Corpus dedup report — the summary a pipeline logs after a dedup pass:
    * document/unique counts, duplicate ratio, and the largest duplicate
    * cluster. One digest aggregation + a 1-row rollup; all-exact integers
    * except the rounded ratio.
    */
  def dedupReport(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        max(col("c")).as("max_cluster"))
      .select(col("n_docs"), col("n_unique"), col("max_cluster"),
        round(lit(1.0) - col("n_unique").cast(DoubleType) / col("n_docs"), 4)
          .as("dup_ratio"))

  /** Bigram counts, top 20 — the n-gram frequency pass of a language-model /
    * quality heuristic (the unigram twin is [[textVocab]]). Shingle k=2 via
    * the same tokenizer; map-side partial counts, vocab-sized final agg.
    */
  def ngramCounts(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    docs(spark, sfDir)
      .select(col("doc_id"), explode(graft.expressions.VectorExpressions
        .shinglesNative(col("text"), 2)).as("bigram"))
      .filter(size(split(col("bigram"), " ")) === 2) // drop short-doc collapse
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_total").desc, col("bigram"))
      .limit(20)
  }

  /** Per-document token-distribution diversity: Shannon entropy of the
    * within-doc unigram distribution, type-token ratio, and the
    * ln(n_types)-normalized entropy — the low-diversity/repetitiveness
    * quality axis (a keyword-stuffed or looping doc scores near 0, varied
    * prose near 1) complementing [[repetitionStats]]' duplicate-n-gram
    * fractions.
    *
    * Determinism: the entropy sum folds the per-type counts in TOKEN
    * order via `aggregate` over a sorted array (the lm_perplexity
    * position-ordered-fold discipline), so float accumulation order is
    * engine-identical. Scale: one (doc_id, token) map-side-combined agg,
    * then per-doc state bounded by the doc's own vocabulary.
    */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    textEntropyFrom(docs(spark, sfDir))

  /** [[textEntropy]] over any frame with (doc_id, text). */
  def textEntropyFrom(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sort_array(collect_list(struct(col("token"), col("c")))).as("cl"))
      .withColumn("entropy", expr(
        """aggregate(cl, CAST(0.0 AS DOUBLE), (acc, x) ->
           acc - (x.c / CAST(n_tokens AS DOUBLE)) *
             ln(x.c / CAST(n_tokens AS DOUBLE)))"""))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast(DoubleType) / col("n_tokens"), 6).as("ttr"),
        round(col("entropy"), 6).as("entropy"),
        round(when(col("n_types") > 1,
          col("entropy") / log(col("n_types").cast(DoubleType)))
          .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy("doc_id")

  /** Language-ID confusion matrix: declared `lang` vs the n-gram
    * detector's prediction, with per-declared-language shares — the
    * audit that tells you whether to trust the crawl's language labels
    * or re-tag (the detector and its stopword panels are the
    * [[textLangId]] native expression, so this is ONE stateless scan +
    * a #langs²-bounded agg; the share window runs over that tiny
    * frame).
    */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        inline(array(graft.expressions.VectorExpressions
          .langIdNative(col("text")))))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        floor(col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w)
          * 10000 + 0.5) / 10000)
      .orderBy("lang", "lang_pred")
  }

  /** DSIR importance weights (Xie et al.'23, "Data Selection for Language
    * Models via Importance Resampling"): per-doc log importance weight
    * ln(p_target(doc)/p_raw(doc)) under hashed-bigram bag-of-features
    * models — the principled "make the crawl look like the target domain"
    * selection signal (the en split stands in for the target domain here;
    * production passes a real target corpus). Features are word bigrams
    * hashed into 4096 md5-derived buckets (first 3 hex chars — the
    * Sketches register idiom, so the oracle replays the bucketing
    * hash-for-hash); both bucket models are Laplace-smoothed.
    *
    * Determinism: bucket counts are exact longs; the per-doc sum of
    * bucket log-ratios folds in FEATURE-POSITION order (the lm_perplexity
    * ordered-fold discipline). Scale: one feature pass, a 4096-row model
    * frame broadcast back, one per-doc agg — docs with <2 tokens have no
    * bigram features and drop out (both engines filter identically).
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val feats = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        posexplode(graft.expressions.VectorExpressions
          .shinglesNative(col("text"), 2)).as(Seq("pos", "bigram")))
      .filter(size(split(col("bigram"), " ")) === 2)
      .withColumn("bucket",
        conv(substring(md5(col("bigram")), 1, 3), 16, 10).cast(LongType))
    val counts = feats.groupBy("bucket")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("ct") + 1) / (col("nt") + 4096)) -
          log((col("cr") + 1) / (col("nr") + 4096))).as("lr"))
    feats.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        sort_array(collect_list(struct(col("pos"), col("lr")))).as("ls"))
      .withColumn("log_weight",
        expr("aggregate(ls, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lr)"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        round(col("log_weight"), 6).as("log_weight"))
      .orderBy("doc_id")
  }

  /** Model-based quality gate (the fastText-style axis beside the
    * heuristic [[textQuality]] gate, Joulin'17's hashed linear classifier
    * shape): every doc scored by a hashed BAG-OF-WORDS linear model —
    * unigram features hashed to 4096 buckets (the [[dsirWeights]]
    * register idiom), per-bucket weights the naive-Bayes log-odds ratio
    * log((c⁺+1)/(n⁺+B)) − log((c⁻+1)/(n⁻+B)). Labels are a SEEDED
    * synthetic set (md5 split-bucket < 50 — the sandbox has no human
    * quality labels; in production the weights frame is loaded from a
    * trained model instead, same 4096-row broadcast), which makes the
    * whole train+score chain deterministic and oracle-replayable.
    *
    * Determinism: bucket counts exact longs, the per-doc score folds in
    * FEATURE-POSITION order (the lm_perplexity discipline), prediction
    * compares the ROUNDED score on both engines. Scale: one token pass,
    * a 4096-row model broadcast back, one per-doc agg.
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame =
    qualityClassifierFrom(docs(spark, sfDir))

  def qualityClassifierFrom(corpus: DataFrame): DataFrame = {
    val feats = classifierFeatures(corpus)
    val w = classifierWeightsFrame(feats)
    feats.join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("n_feats"),
        sort_array(collect_list(struct(col("pos"), col("w")))).as("ws"))
      .withColumn("score",
        expr("aggregate(ws, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.w)"))
      .select(col("doc_id"), col("label"), col("n_feats"),
        round(col("score"), 6).as("score"),
        (round(col("score"), 6) > 0.0).as("predicted"))
      .orderBy("doc_id")
  }

  /** The labeled hashed-unigram feature frame the classifier trains and
    * scores on: (doc_id, label, pos, bucket).
    */
  private def classifierFeatures(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
        (hashBucket("qc:") < 50).cast(LongType).as("label"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
      .withColumn("bucket",
        conv(substring(md5(col("token")), 1, 3), 16, 10).cast(LongType))
      .select(col("doc_id"), col("label"), col("pos"), col("bucket"))

  private def classifierWeightsFrame(feats: DataFrame): DataFrame = {
    val counts = feats.groupBy("bucket")
      .agg(sum(col("label")).as("cp"),
        sum(lit(1L) - col("label")).as("cn"))
    val totals = counts.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("cp") + 1) / (col("np") + 4096)) -
          log((col("cn") + 1) / (col("nn") + 4096))).as("w"))
  }

  /** The trained bucket→weight table as a driver map — the RELEASED model
    * a streaming gate ships as a plan constant
    * ([[graft.streaming.StreamingText.classifierGateStream]]). Bounded by
    * the 4096-bucket model size, never corpus-sized.
    */
  def qualityClassifierWeights(corpus: DataFrame): Map[Long, Double] =
    classifierWeightsFrame(classifierFeatures(corpus))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** PMI collocation mining (Church & Hanks'90): the top bigrams whose
    * observed frequency beats the unigram-independence expectation —
    * pmi = ln(p(x,y) / (p(x) p(y))) — the standard phrase/multi-word-
    * expression detector a tokenizer-training pipeline runs before
    * deciding merge candidates. Min support 25 keeps the estimate stable.
    *
    * Scale: two map-side-combined corpus aggs (token counts, bigram
    * counts via the one-pass native shingler), then everything is
    * vocab-/bigram-type-sized — the x/y marginal joins are keyed on
    * token, the totals are 1-row broadcasts. Ordering is on the ROUNDED
    * pmi with the bigram as tie-break, so the top-20 cut is total-ordered
    * on both engines.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    collocationsFrom(docs(spark, sfDir))
  }

  /** [[collocations]] over any frame with a text column; `minSupport`
    * overridable for small test corpora.
    */
  def collocationsFrom(corpus: DataFrame, minSupport: Long = 25L): DataFrame = {
    val uni = corpus
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val nt = uni.agg(sum(col("c")).cast(DoubleType).as("n_tok"))
    val bi = corpus
      .select(explode(graft.expressions.VectorExpressions
        .shinglesNative(col("text"), 2)).as("bigram"))
      .filter(size(split(col("bigram"), " ")) === 2) // drop short-doc collapse
      .groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
    val nb = bi.agg(sum(col("cxy")).cast(DoubleType).as("n_bi"))
    val ux = uni.select(col("token").as("tx"), col("c").as("n_left"))
    val uy = uni.select(col("token").as("ty"), col("c").as("n_right"))
    bi.filter(col("cxy") >= minSupport)
      .join(ux, element_at(split(col("bigram"), " "), 1) === col("tx"))
      .join(uy, element_at(split(col("bigram"), " "), 2) === col("ty"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select(col("bigram"), col("cxy").as("n_pair"),
        col("n_left"), col("n_right"),
        round(log((col("cxy") / col("n_bi")) /
          ((col("n_left") / col("n_tok")) *
            (col("n_right") / col("n_tok")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  /** Exact dedup: md5 over normalized text, keep the smallest doc_id per
    * hash. One hash-partitioned aggregation; at 100 TB this is the standard
    * shuffle-on-digest dedup (map-side partial min/count applies).
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("text_hash"), col("n_copies"))
      .orderBy("doc_id")

  /** Near-dup candidate pairs that agree on >= 1 MinHash LSH band, verified
    * with exact Jaccard >= 0.8. The join key is the band digest — bucketed,
    * never all-pairs (see class doc).
    */
  def dedupMinHash(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    // doc_id fence: shingle sets computed once; the band explode and both
    // jaccard-verify joins read the same reused exchange
    val sets = docs(spark, sfDir)
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    // repartition on the join key = an explicit exchange: the self-join's two
    // sides canonicalize to the same plan and Spark reuses ONE shuffle
    // (ReusedExchange), so the 16 min-hashes per doc are computed once, and
    // the join itself needs no further shuffle.
    val bands = sets
      .select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
      .repartition(col("band"), col("digest"))
    val cands = bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sets).orderBy("doc_a", "doc_b")
  }

  /** The banded MinHash candidate pairs alone (the [[dedupMinHash]] plan
    * minus its Jaccard verify) — the shared blocking stage any verifier
    * can consume ([[dedupEdit]]'s edit-distance pass).
    */
  private def minhashCandidates(spark: SparkSession,
      sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val bands = docs(spark, sfDir)
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
      .repartition(col("band"), col("digest"))
    bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Edit-distance-verified near-dup pairs — the OTHER classic verifier
    * over the same banded MinHash blocking ([[dedupMinHash]] verifies set
    * Jaccard; this verifies character-level Levenshtein, which catches
    * small in-place edits that shingle sets wash out and vice versa).
    * similarity = 1 − lev/max(len); pairs at ≥ 0.8 survive. Scale shape:
    * the text-carrying join happens ONLY for candidate pairs (bounded by
    * the banding, never all-pairs), two doc-keyed joins against the
    * pruned (doc_id, text) scan.
    */
  def dedupEdit(spark: SparkSession, sfDir: String): DataFrame = {
    val texts = docs(spark, sfDir).select(col("doc_id"), col("text"))
    val sim = lit(1.0) - col("lev").cast(DoubleType) /
      greatest(length(col("ta")), length(col("tb"))).cast(DoubleType)
    minhashCandidates(spark, sfDir)
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast(LongType))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        round(sim, 4).as("edit_sim"))
      .filter(col("edit_sim") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Feature-hashed document vectors (the hashing trick; Weinberger'09)
    * — deterministic 64-dim bag-of-words embeddings with no learned
    * vocabulary: token → bucket = md5[0:4] mod 64, sign = md5[4] < '8',
    * per-doc signed counts L2-normalized. The no-model bridge from text
    * to every vector operator in the engine (ANN, clustering, PCA).
    * Emitted SPARSE — one row per NON-ZERO (doc, bucket) — so output is
    * occupancy-sized, not corpus × dim. Plan: explode → one
    * (doc, bucket)-keyed agg (map-side combined) → a doc-keyed ≤ 64-row
    * norm window. Signed counts are integers, so the norm's sum of
    * squares is order-exact and both engines normalize identically.
    */
  /** The signed-64-bucket hashing-trick coordinates of ONE token —
    * md5 nibbles 1-4 pick the bucket, nibble 5 the sign. THE single
    * source for every hash-embed surface in the engine (batch + rowwise
    * embed, pair alignment + its streaming twin, the retrieval
    * program); the DuckDB oracles replay it via the shared strpos CTE.
    * A recipe change here is a format change for all of them at once —
    * which is the point (round-13 review finding: five hand-copies). */
  private[graft] def hashEmbedBucket(
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(t), 1, 4), 16, 10).cast(LongType), lit(64L))

  private[graft] def hashEmbedSign(
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(substring(md5(t), 5, 1).isin(
      "0", "1", "2", "3", "4", "5", "6", "7"), lit(1L)).otherwise(lit(-1L))

  /** (pos, sgn) struct form of the recipe — the shape in-expression
    * folds consume. */
  private[graft] def hashEmbedEntry(
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(hashEmbedBucket(t).as("pos"), hashEmbedSign(t).as("sgn"))

  def textHashEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("doc_id"), hashEmbedBucket(col("token")).as("pos"),
        hashEmbedSign(col("token")).as("sgn"))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("sgn")).as("v"))
      .filter(col("v") =!= 0)
      .withColumn("norm", sqrt(sum(col("v") * col("v")).over(byDoc)
        .cast(DoubleType)))
      .select(col("doc_id"), col("pos"),
        (round(col("v").cast(DoubleType) / col("norm"), 4) + lit(0.0))
          .as("val"))
      .orderBy("doc_id", "pos")
  }

  /** [[textHashEmbed]] computed entirely IN-EXPRESSION per row — zero
    * shuffles (a document's tokens all live in its own row, so the dense
    * 64-vector folds, normalizes, and re-sparsifies as one projection).
    * This is the form the streaming twin runs on ingest
    * ([[graft.streaming.StreamingText.hashEmbedStream]]); the batch
    * [[textHashEmbed]]'s keyed-agg form exists because a corpus-wide
    * pass prefers map-side-combined aggregation over per-row 64-wide
    * folds. Both emit identical rows (StreamingTextSpec).
    */
  def textHashEmbedRowwise(docs: DataFrame): DataFrame = {
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        aggregate(
          transform(col("toks"), t => hashEmbedEntry(t)),
          array_repeat(lit(0L), 64),
          (acc, e) => zip_with(acc,
            sequence(lit(0L), lit(63L)),
            (x, i) => when(i === e.getField("pos"),
              x + e.getField("sgn")).otherwise(x))).as("dense"))
      .select(col("doc_id"), col("dense"),
        sqrt(aggregate(col("dense"), lit(0L), (a, x) => a + x * x)
          .cast(DoubleType)).as("norm"))
      .select(col("doc_id"), posexplode(col("dense")).as(Seq("pos", "v")),
        col("norm"))
      .filter(col("v") =!= 0)
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        (round(col("v").cast(DoubleType) / col("norm"), 4) + lit(0.0))
          .as("val"))
  }

  /** Per-document n-gram novelty — the incremental-crawl signal: what
    * fraction of a document's distinct 8-gram shingles appear in NO
    * earlier document (first occurrence = min doc_id over the corpus, the
    * arrival order a crawl replays). Documents full of already-seen
    * n-grams are re-hashes/boilerplate; high-novelty documents carry new
    * content. Plan: one tokenize pass → distinct (doc, hash) →
    * a hash-keyed min-doc aggregation joined back (keyed, map-side
    * combined — a window over the hash partition would funnel a
    * boilerplate gram's whole posting through one task) → per-doc ratio.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String,
      len: Int = 8): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val toks = tokens(col("text"))
    // round 16: native sliding-window md5 (graft_shingle_hashes) replaces
    // the interpreted transform(sequence, md5(concat_ws(slice))) chain —
    // bit-identical hashes in the same position order, so array_distinct
    // keeps the same first-occurrence set
    val grams = docs(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= len)
      .select(col("doc_id"),
        explode(array_distinct(graft.expressions.VectorExpressions
          .shingleHashesNative(col("toks"), len))).as("h"))
    val firstSeen = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_distinct_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_distinct_grams"), col("n_novel"),
        round(col("n_novel").cast(DoubleType) / col("n_distinct_grams"), 4)
          .as("novelty_frac"))
      .orderBy("doc_id")
  }

  /** Corpus snapshot diff — the versioned-dataset audit a training
    * pipeline runs between crawls: full outer join of two corpus versions
    * on doc_id, per-doc status from digest comparison (added / removed /
    * changed; unchanged rows are suppressed — at 100 TB the diff report
    * must be delta-sized, not corpus-sized). One digest-keyed join;
    * digests computed in the scan projection, text never shuffles.
    */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // deterministic synthetic "next crawl": 10% of docs deleted, 10%
    // rewritten, 10% re-fetched under fresh ids — the shape a real diff
    // sees; both engines derive the same pair of versions
    val oldV = d.select(col("doc_id"), col("text"))
    val newV = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 1, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    corpusDiffFrom(oldV, newV)
  }

  /** [[corpusDiff]] over any two (doc_id, text) versions. */
  /** The PAYLOAD-carrying form of [[corpusDiffFrom]] — the digest diff
    * joined back to the new version's text for added/changed rows (null
    * for removed). This is the shippable incremental-sync artifact: a
    * mirror holding v1 plus this patch reconstructs v2 exactly via
    * [[applyCorpusPatch]] (spec-proven), moving delta-sized text instead
    * of re-shipping the corpus.
    */
  def corpusPatchFrom(oldV: DataFrame, newV: DataFrame): DataFrame =
    corpusDiffFrom(oldV, newV)
      .join(newV.select(col("doc_id"), col("text")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"), col("text"))

  /** Apply a [[corpusPatchFrom]] patch: untouched rows pass through (a
    * delta-sized anti-join), removed/changed rows drop, added/changed
    * rows come from the patch payload.
    */
  def applyCorpusPatch(oldV: DataFrame, patch: DataFrame): DataFrame =
    oldV.select(col("doc_id"), col("text"))
      .join(patch.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(patch.filter(col("status") =!= "removed")
        .select(col("doc_id"), col("text")))

  def corpusDiffFrom(oldV: DataFrame, newV: DataFrame): DataFrame = {
    val o = oldV.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val n = newV.select(col("doc_id"), md5(col("text")).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"), col("old_md5"), col("new_md5"))
      .orderBy("doc_id")
  }

  /** The (bands × rows) grid [[minhashTune]] sweeps — every config
    * re-bands the SAME 16-hash signature. Shared with the generated
    * oracle so the grid cannot drift between engines.
    */
  private[graft] val BandGrid: Seq[(Int, Int)] =
    Seq((16, 1), (8, 2), (4, 4), (2, 8))

  /** LSH banding tune telemetry — the dedup counterpart of
    * `ann_recall_grid`: for each (n_bands, rows_per_band) config over one
    * shared 16-hash MinHash signature, the candidate-pair volume, the
    * verified-duplicate count, precision, and recall vs the union of all
    * configs' verified positives (exact all-pairs ground truth is the one
    * thing a 100 TB run can never compute; the union reference is the
    * standard production proxy, and (16,1) — any-single-hash-match —
    * captures a J ≥ 0.8 pair w.p. 1-(1-J)^16 ≈ 1, so the union is near
    * truth at the threshold). Scale shape: the signature frame is
    * checkpointed ONCE (shingles + 16 md5 mins never recompute per
    * config), each config's candidates come from its own banded
    * equi-join (never all-pairs), and the expensive Jaccard verify runs
    * once per DISTINCT pair across the whole grid, not once per config.
    */
  def minhashTune(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val sig = Fence(docs(spark, sfDir)
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s"))
      // one-pass 16-seed signature (round 16): the previous
      // array(minhash1(s,0)..minhash1(s,15)) built 16 independent
      // expressions that each re-read and re-stringified every shingle;
      // minhash_all materializes each shingle once for all 16 seeded
      // digests — bit-identical per element (spec-pinned)
      .select(col("doc_id"), col("s"), graft.expressions.VectorExpressions
        .minHashAllNative(col("s"), 16).as("mh")))
    // ONE banding pass for the whole grid (round 16): the per-config
    // subtrees each paid their own explode + repartition + window +
    // self-join + distinct over the same fenced signature (4× each, and
    // 4 extra jobs' scheduling). Putting the config in the bucket key —
    // (n_bands, band, digest); n_bands determines rows_per_band in
    // BandGrid, so buckets stay exactly per-config — collapses the grid
    // to one explode (30 tagged band rows/doc: 16+8+4+2), one exchange,
    // one window, one self-join, one distinct. Candidate sets per config
    // are unchanged; the oracle replays the grid per-config and stays
    // UNPRUNED, so the hash compare re-proves equivalence every run.
    //
    // singleton-bucket prune (unchanged in spirit): a bucket of size 1
    // yields no candidate pair, and at corpus scale MOST buckets are
    // singletons (the non-duplicate mass), so dropping them shrinks the
    // self-join input by exactly that mass. The bucket-size count is a
    // window over the bucket key and rides the repartition — no extra
    // shuffle. Answer-neutral by construction.
    // the exploded band row carries only (int n_bands, int band, digest)
    // — rows_per_band is determined by n_bands in BandGrid and the output
    // longs re-derive after the distinct, so the exchange moves no
    // redundant config bytes
    val bandRows = BandGrid.flatMap { case (b, r) =>
      (0 until b).map { i =>
        struct(lit(b).as("n_bands"), lit(i).as("band"),
          concat_ws("|", slice(col("mh"), i * r + 1, r)).as("digest"))
      }
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandRows: _*)).as("c"))
      .select(col("doc_id"), col("c.n_bands").as("n_bands"),
        col("c.band").as("band"), col("c.digest").as("digest"))
      .repartition(col("n_bands"), col("band"), col("digest"))
      .withColumn("__bc", count(lit(1)).over(
        Window.partitionBy(col("n_bands"), col("band"), col("digest"))))
      .filter(col("__bc") >= 2).drop("__bc")
    val rpb = BandGrid.foldLeft(lit(null).cast(LongType)) {
      case (acc, (b, r)) =>
        when(col("n_bands") === b, lit(r.toLong)).otherwise(acc)
    }
    val tagged = bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.n_bands") === col("b.n_bands") &&
          col("a.band") === col("b.band") &&
          col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.n_bands").as("n_bands"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .select(col("n_bands").cast(LongType).as("n_bands"),
        rpb.as("rows_per_band"), col("doc_a"), col("doc_b"))
    val cands = Fence(tagged)
    val verified = cands.select(col("doc_a"), col("doc_b")).distinct()
      .join(sig.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (round(jaccard(col("sa"), col("sb")), 4) >= JaccardThreshold)
          .as("is_dup"))
    val total = verified.filter(col("is_dup"))
      .agg(count(lit(1)).cast(LongType).as("n_true"))
    cands.join(verified, Seq("doc_a", "doc_b"))
      .groupBy(col("n_bands"), col("rows_per_band"))
      .agg(count(lit(1)).cast(LongType).as("n_cand"),
        sum(col("is_dup").cast(LongType)).as("n_dup"))
      .crossJoin(broadcast(total))
      .select(col("n_bands"), col("rows_per_band"), col("n_cand"),
        col("n_dup"),
        when(col("n_cand") === 0, lit(null))
          .otherwise(round(col("n_dup").cast(DoubleType) / col("n_cand"), 4))
          .as("prec"),
        when(col("n_true") === 0, lit(null))
          .otherwise(round(col("n_dup").cast(DoubleType) / col("n_true"), 4))
          .as("recall_vs_union"))
      .orderBy(col("n_bands").desc)
  }

  /** The DuckDB replay of [[minhashTune]], generated from the SAME
    * [[BandGrid]]: per config a banded self-join over mh slices, then the
    * shared distinct-pair verify and the union-reference recall.
    */
  private[graft] def minhashTuneOracleSql(shingleSetCtes: String): String = {
    val perConfig = BandGrid.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
    x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM (SELECT doc_id, u.band,
      array_to_string(mh[u.band*$r+1:u.band*$r+$r], '|') AS digest
    FROM sig, unnest(range($b)) u(band)) x
  JOIN (SELECT doc_id, u.band,
      array_to_string(mh[u.band*$r+1:u.band*$r+$r], '|') AS digest
    FROM sig, unnest(range($b)) u(band)) y
  ON x.band = y.band AND x.digest = y.digest AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $shingleSetCtes,
sig AS (SELECT doc_id, s, list_transform(range(16),
  k -> list_min(list_transform(s, x -> md5(k || ':' || x)))) AS mh FROM ss),
cands AS (
$perConfig
),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM cands),
ver AS (SELECT doc_a, doc_b,
    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
      len(list_distinct(list_concat(x.s, y.s))), 4) >= 0.8 AS is_dup
  FROM pairs JOIN ss x ON pairs.doc_a = x.doc_id
  JOIN ss y ON pairs.doc_b = y.doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM ver WHERE is_dup),
agg AS (SELECT n_bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_cand,
    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM cands JOIN ver USING (doc_a, doc_b) GROUP BY 1, 2)
SELECT n_bands, rows_per_band, n_cand, n_dup,
  CASE WHEN n_cand = 0 THEN NULL
    ELSE round(CAST(n_dup AS DOUBLE) / n_cand, 4) END AS prec,
  CASE WHEN n_true = 0 THEN NULL
    ELSE round(CAST(n_dup AS DOUBLE) / n_true, 4) END AS recall_vs_union
FROM agg, tot ORDER BY n_bands DESC"""
  }

  /** Near-dup pairs blocked on the single global min-hash (prefix-filter
    * style: a pair with Jaccard J shares its min w.p. J), verified with
    * exact Jaccard >= 0.8. Cheaper signature than banded MinHash, lower
    * recall at mid similarity — the other classic point in the space.
    */
  def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    // doc_id fence: one shingle-set computation shared by blocker + verify
    val sets = docs(spark, sfDir)
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    // one-pass native min-hash for the blocking key (the HOF formulation
    // stays as the tested spec in TextVectorFunctionsSpec)
    val keyed = sets.select(col("doc_id"), graft.expressions.VectorExpressions
      .minHash1Native(col("s"), 99).as("block"))
      .repartition(col("block"))
    val cands = keyed.hint("shuffle_hash").as("a")
      .join(keyed.hint("shuffle_hash").as("b"),
        col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, sets).orderBy("doc_a", "doc_b")
  }

  /** The production dedup shape: exact dedup FIRST (identical texts collapse
    * to one representative, carrying its copy count), then MinHash-LSH
    * near-dup among representatives only. Besides being what a real corpus
    * pipeline runs, the exact pre-collapse is the skew defense for the band
    * join: a page duplicated a million times contributes ONE row to its LSH
    * bucket instead of a quadratic candidate explosion.
    */
  def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame =
    dedupPipelineFrom(spark, docs(spark, sfDir))

  /** [[dedupPipeline]] over an arbitrary (doc_id, text) corpus.
    *
    * The representatives materialize once, in one [[Fence]]: digest group
    * → `min(doc_id)`, `min(text)`, `n_copies` → shingle set. The band
    * explode and both Jaccard-verify joins read that one checkpoint, so the
    * corpus is scanned and grouped once per call. A `repartition(doc_id)`
    * did not hold as a fence here: the band branch prunes `n_copies` and
    * the verify branch keeps it, so Catalyst planned two different
    * scan → digest-aggregate branches (and shuffled every shingle set by
    * `doc_id` in each) instead of reusing one exchange.
    */
  def dedupPipelineFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val sets = Fence(corpus
      .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
      .agg(min("doc_id").as("doc_id"), min("text").as("text"),
        count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s")))
    val bands = sets
      .select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
      .repartition(col("band"), col("digest"))
    val cands = bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa"),
        col("n_copies").as("copies_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb"),
        col("n_copies").as("copies_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("sa"), col("sb")), 4).as("jaccard"),
        col("copies_a"), col("copies_b"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental (cross-run) dedup — the everyday production shape: dedup
    * TODAY'S shard against the EXISTING corpus index instead of re-pairing
    * the whole corpus. The demo entry splits `documents` into "corpus"
    * (seeded hash bucket >= 10) and "delta" (< 10); production calls
    * [[dedupIncrementalFrom]] with the new shard and the standing corpus
    * table directly.
    *
    * Per delta document: `dup_exact` (normalized digest already in the
    * corpus), `n_near` (count of corpus documents sharing an LSH band AND
    * verified at Jaccard >= 0.8), and `novel` (neither). At 100 TB the
    * corpus side contributes digest/band/shingle INDEX rows (in a standing
    * pipeline these are materialized once and reused across days); the
    * delta side — the only full-text work of the day — is scanned once,
    * and every join is keyed (digest / band / doc_id), never pairwise.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = hashBucket("inc:")
    val all = docs(spark, sfDir).select(col("doc_id"), col("text"), bucket.as("b"))
    dedupIncrementalFrom(spark,
      all.filter(col("b") >= 10).select(col("doc_id"), col("text")),
      all.filter(col("b") < 10).select(col("doc_id"), col("text")))
  }

  /** [[dedupIncremental]] over explicit (doc_id, text) corpus and delta
    * tables. Each side tokenizes ONCE into (doc_id, digest, shingle set)
    * behind a doc_id repartition fence — the fence exchange is reused by
    * the band explode, the exact probe, and the Jaccard verify joins, so
    * neither side's text is re-scanned per use (the delta fence shuffles
    * only the day's shard).
    */
  def dedupIncrementalFrom(spark: SparkSession, corpus: DataFrame,
      delta: DataFrame): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    def prep(side: DataFrame): DataFrame = side
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"),
        graft.expressions.VectorExpressions.shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    def bands(prepped: DataFrame): DataFrame = prepped
      .select(col("doc_id"),
        posexplode(graft.expressions.VectorExpressions
          .minHashBandsNative(col("s"))).as(Seq("band", "digest")))
    val corpusPrep = prep(corpus)
    val deltaPrep = prep(delta)
    val cands = bands(deltaPrep).as("d")
      .join(bands(corpusPrep).as("c"),
        col("d.band") === col("c.band") && col("d.digest") === col("c.digest"))
      .select(col("d.doc_id").as("doc_id"), col("c.doc_id").as("corpus_doc"))
      .distinct()
    val near = cands
      .join(deltaPrep.select(col("doc_id"), col("s").as("sd")), "doc_id")
      .join(corpusPrep.select(col("doc_id").as("corpus_doc"),
        col("s").as("sc")), "corpus_doc")
      .filter(round(jaccard(col("sd"), col("sc")), 4) >= JaccardThreshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    val exact = corpusPrep.select(col("h")).distinct()
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

  /** Exact-Jaccard verification of candidate pairs against the shingle sets
    * (two hash joins by doc_id; arrays only materialize per-pair here).
    */
  /** Connected components over the verified near-dup pair graph — the
    * canonicalization step after candidate generation: every document in a
    * duplication cluster gets the cluster's minimum doc_id as its label, so
    * "keep one per cluster" is a filter on `doc_id = cluster_id`.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * takes the min over neighbor labels, then compresses paths by following
    * label -> label-of-label; convergence needs O(log diameter) rounds, and
    * the fixpoint early-exit makes `maxIters` a pure SAFETY CEILING, not a
    * cost — 20 covers diameter ~2^20 while typical LSH graphs stop after
    * 2-4 rounds (sf0.1 measured: the embedding band graph chains to 7
    * productive rounds; exhausting the ceiling un-converged now throws
    * instead of returning wrong labels). The edge list is checkpointed once — it is the
    * candidate-pair output (tiny relative to the corpus), and truncating
    * lineage keeps the iterated plan linear instead of exponential; a
    * production run at 100 TB would checkpoint to reliable storage the
    * same way. Rounds stop early at the label-sum fixpoint (labels are
    * monotonically non-increasing), so `maxIters` is a ceiling, not a cost.
    *
    * Output covers documents that appear in at least one near-dup pair
    * (singletons are trivially their own cluster and stay out, exactly like
    * the pair queries).
    */
  def dedupClusters(spark: SparkSession, sfDir: String,
      maxIters: Int = 20): DataFrame =
    if (maxIters == DefaultCcIters)
      sharedClusterLabels(spark, sfDir).orderBy("doc_id")
    else
      connectedComponents(
        dedupMinHash(spark, sfDir).select(col("doc_a"), col("doc_b")),
        maxIters)

  private val DefaultCcIters = 20

  /** The near-dup cluster-label frame shared by [[dedupClusters]] and
    * [[canonicalSelect]], built ONCE per (Spark application, sfDir) and
    * cached — the [[Graph.sharedEdges]] recipe applied to dedup: each of
    * the two queries otherwise re-runs the full
    * shingle→minhash→band→verify→CC chain from scratch (4.18 s + 2.68 s
    * at sf0.1 in round 9). The cached frame is the CC output fenced
    * behind a checkpoint leaf, node-sized (near-dup docs only, a small
    * fraction of the corpus). A [[SessionCache]] entry: concurrent first
    * builds serialize under its lock (the CC loop runs driver-side
    * convergence probes that should not interleave).
    */
  private def sharedClusterLabels(spark: SparkSession,
      sfDir: String): DataFrame =
    SessionCache(spark, "dedup-cluster-labels", sfDir)(
      Fence(connectedComponents(
        dedupMinHash(spark, sfDir).select(col("doc_a"), col("doc_b")),
        DefaultCcIters)))

  /** Free the shared cluster-label leaf's cached blocks and forget the
    * cache entry — the [[Graph.releaseSharedEdges]] discipline for the
    * dedup-cluster family; entry removal precedes the block drop, so a
    * later consumer rebuilds instead of reading a truncated lineage. */
  def releaseSharedClusterLabels(spark: SparkSession, sfDir: String): Unit =
    SessionCache.release(spark, "dedup-cluster-labels", sfDir)

  /** The driver queries that CONSUME [[sharedClusterLabels]] — the
    * registry `graft.Bench` groups into the dedup family (warm the
    * artifact, run these consecutively, release). Lives NEXT TO the
    * cache so adding a consumer updates both in one place; a consumer
    * missing from this set would have its cached leaf dropped by the
    * sweep's per-query orphan pass and read a truncated lineage
    * (round-13 ADVICE). */
  private[graft] val benchFamilyQueries: Set[String] =
    Set("dedup_clusters", "canonical_select")

  /** Build the shared cluster-label leaf NOW (a no-op when already
    * cached) — the explicit warm hook mirroring
    * [[Graph.warmSharedEdges]]; `graft.Bench` warms and reports the
    * build as its own `dedup_cluster_build` line item so per-query
    * numbers are warm-cache and the build cost stays visible.
    */
  def warmSharedClusterLabels(spark: SparkSession, sfDir: String): Unit = {
    sharedClusterLabels(spark, sfDir)
    ()
  }

  /** Quality-aware canonical selection over the near-dup clusters — what a
    * production dedup actually KEEPS: [[dedupClusters]] picks min-doc_id
    * representatives, but a curation pipeline retains the highest-QUALITY
    * member of each duplicate cluster (dropping a clean original in favor
    * of a boilerplate-wrapped copy because it had a smaller id is a real
    * data-quality loss). Per cluster: rank members by the quantized
    * heuristic quality (desc, doc_id tie-break), flag rank 1 as `kept`.
    * All-integer/boolean surface (quality as scaled BIGINT `quality_q4`).
    *
    * Scale: the SHARED CC labels leaf ([[sharedClusterLabels]] — built
    * once per session, near-dup docs only) joined to the quality
    * projection on doc_id, one cluster-keyed window. Nothing
    * corpus-sized shuffles beyond the one-time shared build.
    */
  def canonicalSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = sharedClusterLabels(spark, sfDir)
    val q = textQuality(spark, sfDir).select(col("doc_id"),
      floor(col("quality") * 10000d + 0.5d).cast("long").as("quality_q4"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_q4").desc, col("doc_id"))
    labels.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("cluster_id"), col("doc_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        col("quality_q4"), (col("rn") === 1).as("kept"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Min-label-propagation connected components over an undirected pair
    * list `(doc_a, doc_b)` — see [[dedupClusters]] for the algorithm and
    * scale notes. Exposed separately so any pair source (minhash, simhash,
    * embedding near-dup) can be canonicalized.
    */
  def connectedComponents(pairList: DataFrame, maxIters: Int = 20): DataFrame = {
    // Every round's labels go through [[Fence]] (reliable when a checkpoint
    // dir is set): lineage truncates per round, which is what keeps the
    // iterated plan linear.
    val pairs = Fence(pairList)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // Convergence detector: per-node labels only ever decrease, so the
    // label sum strictly decreases until the fixpoint — one tiny agg per
    // round on the checkpointed table replaces fixed-iteration overkill
    // (measured: 6 rounds -> 2-3 on LSH graphs, ~5 s -> ~3 s at sf0.1).
    // sum() over an EMPTY label table (clean corpus — no near-dup pairs) is
    // SQL null: treat it as converged-at-zero-nodes instead of letting
    // BigDecimal(null) throw.
    // STRING node ids (graph_components' "c<k>"/"s<k>") can't ride the
    // decimal sum: their detector is the sum of xxhash64(label) instead —
    // pure change detection (a fixpoint leaves the multiset of labels,
    // hence the hash sum, unchanged; a non-fixpoint round colliding to
    // the same sum has probability ~2^-64). Numeric labels keep the
    // original strictly-decreasing decimal sum untouched.
    val numericLabels = labels.schema("label").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(): Option[BigDecimal] =
      if (numericLabels)
        Option(labels.agg(sum(col("label").cast(DecimalType(38, 0))))
          .collect()(0).getDecimal(0)).map(BigDecimal(_))
      else
        Option(labels.agg(sum(xxhash64(col("label")).cast(DecimalType(38, 0))))
          .collect()(0).getDecimal(0)).map(BigDecimal(_))
    var prevSum: Option[BigDecimal] = Some(BigDecimal(-1))
    var converged = false
    var it = 0
    while (it < maxIters && !converged) {
      val s = labelSum()
      if (s.isEmpty || s == prevSum) converged = true
      else {
        prevSum = s
        it += 1
        // min over self + neighbors' labels
        val viaNbr = edges
          .join(labels.withColumnRenamed("node", "dst_n"),
            col("dst") === col("dst_n"))
          .select(col("src").as("node"), col("label"))
        val minned = labels.union(viaNbr)
          .groupBy("node").agg(min(col("label")).as("label"))
        // pointer jump: follow label -> its own current label. The self-join
        // references `minned` twice and the loop iterates — without the
        // per-round checkpoint the logical plan doubles every round
        // (2^maxIters subtrees) and optimization time dwarfs execution; with
        // it, each round plans against a materialized leaf (measured: Verify
        // 378 s -> ~90 s). Label tables are candidate-graph sized, not
        // corpus sized.
        labels = Fence(minned
          .join(minned.select(col("node").as("l_node"),
            col("label").as("l_label")),
            col("label") === col("l_node"))
          .select(col("node"), col("l_label").as("label")))
      }
    }
    // The ceiling is sized for LSH near-clique graphs (O(log diameter)
    // rounds); if a pathological graph exhausts it before the fixpoint, the
    // labels are WRONG for any component with diameter > ~2^maxIters —
    // surface that loudly instead of returning silently mislabeled clusters.
    if (!converged && labelSum() != prevSum)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIters=$maxIters " +
          "rounds; labels would be incorrect for large-diameter components. " +
          "Re-run with a higher maxIters.")
    val w = Window.partitionBy("cluster_id")
    labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Asymmetric shingle CONTAINMENT over the same MinHash blocking as
    * [[dedupJaccard]]: cont(A in B) = |A∩B| / |A| (Broder'97's second
    * resemblance measure). Catches what symmetric Jaccard washes out —
    * a short doc quoted whole inside a long one has tiny Jaccard but
    * containment ~1 — the quote/aggregator-page shape substring dedup
    * handles span-wise and this flags doc-wise. Same fenced shingle
    * sets, same banded candidates (never all-pairs); pairs kept when
    * either direction's ROUNDED containment >= 0.8, with the dominant
    * direction named.
    */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    dedupContainmentFrom(docs(spark, sfDir))
  }

  /** [[dedupContainment]] over any frame with (doc_id, text). */
  def dedupContainmentFrom(corpus: DataFrame): DataFrame = {
    val sets = corpus
      .select(col("doc_id"), graft.expressions.VectorExpressions
        .shingleSetNative(col("text")).as("s"))
      .repartition(col("doc_id"))
    val keyed = sets.select(col("doc_id"), graft.expressions.VectorExpressions
      .minHash1Native(col("s"), 99).as("block"))
      .repartition(col("block"))
    val cands = keyed.hint("shuffle_hash").as("a")
      .join(keyed.hint("shuffle_hash").as("b"),
        col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast(LongType)
          .as("n_common"),
        round(size(array_intersect(col("sa"), col("sb")))
          .cast(DoubleType) / size(col("sa")), 4).as("cont_ab"),
        round(size(array_intersect(col("sa"), col("sb")))
          .cast(DoubleType) / size(col("sb")), 4).as("cont_ba"))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= 0.8)
      .withColumn("direction",
        when(col("cont_ab") >= col("cont_ba"), lit("a_in_b"))
          .otherwise(lit("b_in_a")))
      .orderBy("doc_a", "doc_b")
  }

  private def verifyJaccard(cands: DataFrame, sets: DataFrame): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("sa"), col("sb")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)

  /** SimHash near-dup: pairs sharing >= 1 of 4 8-bit SimHash bands with
    * Hamming distance <= 3 over the full 32-bit signature. The 8-byte
    * signature travels through the band join, so verification needs no
    * re-join — constant-width state per row regardless of document size.
    */
  def dedupSimHash(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    // The repartition is an optimization fence: without it Catalyst inlines
    // the token-hash array into the 32-reference bit loop and re-runs md5
    // 32x per token; with it the array is a materialized attribute, hashed
    // once. The tiny shuffle is also reused by both join sides. Same plan
    // you want at 100 TB: hash once, shuffle constant-width signatures.
    val sims = docs(spark, sfDir)
      .select(col("doc_id"), tokenHashes(col("text")).as("hs"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), simHashFromHashes(col("hs")).as("sh"))
    val bands = sims.select(col("doc_id"), col("sh"),
      posexplode(simHashBands(col("sh"))).as(Seq("band", "val")))
    bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.val") === col("b.val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Per-domain document cap — the crawl-corpus defense against a single
    * site dominating the training mix: keep only the first `k` documents
    * (by doc_id) of every source.
    *
    * Scale shape: the naive `row_number() OVER (PARTITION BY source ORDER
    * BY doc_id) <= k` serializes a dominant domain (most of a web crawl)
    * into one window task. Instead documents range-shard on
    * `doc_id div shardWidth` and a tiny per-(source, shard) count table is
    * prefix-summed per source: because `shard` is monotonic in `doc_id`,
    * only shards whose cumulative predecessor count is still `< k` can
    * contribute — every other shard is pruned BEFORE the window by the
    * broadcast join, so the per-(source, shard) rank runs over at most
    * `k + shardWidth` rows per source no matter how large the domain is.
    * `offset + within-shard row_number` is exactly the per-source rank.
    */
  def domainCap(spark: SparkSession, sfDir: String, k: Int = 30,
      shardWidth: Long = 64): DataFrame =
    domainCapFrom(docs(spark, sfDir), k, shardWidth)

  /** [[domainCap]] over an arbitrary (doc_id, source) frame — the
    * composition form (cap the survivors of an upstream gate/dedup stage,
    * not the raw snapshot).
    */
  def domainCapFrom(corpus: DataFrame, k: Int = 30,
      shardWidth: Long = 64): DataFrame =
    firstKPerKey(
      corpus.select(col("doc_id"), col("source"))
        .withColumn("shard", expr(s"doc_id div $shardWidth")),
      "source", Seq(col("doc_id")), Left(k.toLong))
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("source", "rk")

  /** The shared shard-pruned first-k-per-key machinery behind
    * [[domainCapFrom]] and [[temperatureSample]] (and, in running-SUM form,
    * [[tokenBudgetCore]]): per-(key, shard) counts, a per-key prefix-sum
    * over the TINY shard table, prune shards wholly past the limit (their
    * rows never shuffle), then rank only surviving shards' rows inside
    * their (key, shard) window — no key's rows ever funnel through one
    * task. `base` carries the key column, a `shard` column whose order is
    * the admission order's leading term, and the within-shard order
    * columns; `limit` is a constant k or a broadcast (key, target) frame
    * for per-key allowances.
    */
  private[graft] def firstKPerKey(base: DataFrame, keyCol: String,
      orderCols: Seq[Column], limit: Either[Long, DataFrame]): DataFrame = {
    val counted = base.groupBy(keyCol, "shard")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        sum(col("cnt")).over(
          Window.partitionBy(keyCol).orderBy("shard")) - col("cnt"))
    val offsets = limit.fold(
      k => counted.withColumn("target", lit(k)),
      targets => counted.join(targets, keyCol))
      .filter(col("offset") < col("target")) // pruned: post-limit shards
      .select(col(keyCol).as("o_key"), col("shard").as("o_shard"),
        col("offset"), col("target"))
    val w = Window.partitionBy(keyCol, "shard").orderBy(orderCols: _*)
    base.join(broadcast(offsets),
        col(keyCol) === col("o_key") && col("shard") === col("o_shard"))
      .withColumn("rk", (col("offset") + row_number().over(w)).cast(LongType))
      .filter(col("rk") <= col("target"))
  }

  /** EXACT per-key rank without a key-partitioned sort window — the
    * [[firstKPerKey]] two-level machinery in full-ranking form (no limit
    * prune): `bucketCol` must be a deterministic value-range bucket that
    * is monotone NON-DECREASING in the admission order's leading term
    * (for a DESC leading term, pass a negated bucket); per-(key, bucket)
    * counts prefix-sum over the TINY bucket table into start offsets, and
    * `offset + within-bucket row_number` is exactly the rank the naive
    * `row_number() OVER (PARTITION BY key ORDER BY ...)` would emit —
    * but no key's rows ever funnel through one window task: the only
    * key-alone window runs over the bucket-count table (#keys × #buckets
    * rows), and the per-row window is (key, bucket)-partitioned, bounded
    * by the bucket width. The bucket column is named `_rb` so
    * PlanAuditSpec can tell offsets-table lang windows from corpus ones.
    *
    * CALLERS MUST FENCE `base` ([[Fence]]) when its lineage is
    * non-trivial: the offsets branch re-plans the base subtree, so an
    * unfenced classifier/LM chain doubles per rankPerKey call —
    * quality_fusion's chained ranks hit 166 exchanges before its fence.
    */
  private[graft] def rankPerKey(base: DataFrame, keyCol: String,
      bucketCol: Column, orderCols: Seq[Column], rkName: String)
      : DataFrame = {
    val b = base.withColumn("_rb", bucketCol)
    val offsets = b.groupBy(col(keyCol), col("_rb"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        sum(col("_cnt")).over(
          Window.partitionBy(keyCol).orderBy("_rb")) - col("_cnt"))
      .select(col(keyCol).as("_rk_key"), col("_rb").as("_rk_b"),
        col("_off"))
    val w = Window.partitionBy(col(keyCol), col("_rb"))
      .orderBy(orderCols: _*)
    b.join(broadcast(offsets),
        col(keyCol) === col("_rk_key") && col("_rb") === col("_rk_b"))
      .withColumn(rkName,
        (col("_off") + row_number().over(w)).cast(LongType))
      .drop("_rb", "_rk_key", "_rk_b", "_off")
  }

  /** Temperature-based language mixture weights (the multilingual sampling
    * rule of mBERT/XLM-R-style pipelines): resampling weight for language l
    * is n_l^alpha normalized over languages, so alpha < 1 upweights tail
    * languages relative to their natural share. Two tiny aggregations — a
    * per-lang count and a 1-row normalizer broadcast back; nothing here
    * scales with the corpus beyond the map-side-combined count.
    */
  def langTemperature(spark: SparkSession, sfDir: String,
      alpha: Double = 0.3): DataFrame = {
    val counts = docs(spark, sfDir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val norm = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs"), alpha)).as("z"))
    counts.crossJoin(broadcast(norm))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast(DoubleType) / col("n_total"), 6)
          .as("doc_share"),
        round(pow(col("n_docs"), alpha) / col("z"), 6).as("weight"),
        round((pow(col("n_docs"), alpha) / col("z")) /
          (col("n_docs").cast(DoubleType) / col("n_total")), 4).as("boost"))
      .orderBy("lang")
  }

  /** Temperature resampling APPLIED — [[langTemperature]] computes the
    * n^alpha weights; this operator materializes the resampled corpus:
    * language l keeps its first floor(round(w_l, 6) * n_total) documents
    * in seeded content-hash order ("tmp:" md5 — deterministic, so batch
    * re-runs and the oracle admit the identical set). This is the
    * mBERT/XLM-R corpus-rebalancing step as an executable query rather
    * than a weights report.
    *
    * Determinism at the floor boundary: the weight is pinned to 6
    * decimals (the [[langTemperature]] report precision) BEFORE the
    * product, and the product+floor run in exact DECIMAL arithmetic —
    * so the only cross-engine float exposure is the 6th-decimal rounding
    * of w itself, the same exposure lang_temperature's oracle has
    * carried green since round 5. An unrounded double floor(w * N)
    * would make admission counts flip on a 1-ulp pow/sum difference.
    *
    * Plan: [[firstKPerKey]] with the per-language target broadcast —
    * shards wholly past their language's target never shuffle, and no
    * language's documents funnel through one task. The weights subtree
    * is the [[langTemperature]] pair of tiny aggs.
    */
  def temperatureSample(spark: SparkSession, sfDir: String,
      alpha: Double = 0.3): DataFrame = {
    val counts = docs(spark, sfDir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val norm = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs"), alpha)).as("z"))
    val targets = counts.crossJoin(broadcast(norm))
      .select(col("lang"),
        floor(round(pow(col("n_docs"), alpha) / col("z"), 6)
            .cast("decimal(12,6)")
          * col("n_total").cast("decimal(20,0)"))
          .cast(LongType).as("target"))
    val base = docs(spark, sfDir).select(col("doc_id"), col("lang"))
      .withColumn("skey", md5(concat(lit("tmp:"), col("doc_id"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 2), 16, 10).cast(LongType))
    firstKPerKey(base, "lang", Seq(col("skey"), col("doc_id")),
      Right(targets))
      .select(col("doc_id"), col("lang"), col("rk"), col("target"))
      .orderBy("lang", "rk")
  }

  /** Boilerplate n-gram signal (the CCNet-style shared-shingle fraction):
    * for each document, the fraction of its distinct 3-grams that occur in
    * at least `minDocs` documents corpus-wide. High fractions mark
    * template/boilerplate pages worth dropping before training.
    *
    * Plan shape mirrors [[textTfidf]]'s df discipline: because the
    * per-doc shingle list is distinct, a map-side-combined
    * `groupBy(gram).count()` IS the document frequency, joined back onto
    * the gram rows (AQE-skew-splittable — a gram-partitioned window
    * would hold a common 3-gram's whole doc set, ~every document at
    * 100 TB, in one unsplittable task). The df branch re-derives the
    * shingle scan (the dup_spans scan-twice-beats-funnel trade, and the
    * native one-pass [[graft.expressions.ShingleSet]] keeps the re-read
    * cheap); shuffles: the gram-types agg, the gram-keyed join, the
    * per-doc re-aggregation.
    */
  def boilerplateNgrams(spark: SparkSession, sfDir: String,
      minDocs: Int = 5): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val grams = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.expressions.VectorExpressions
          .shingleSetNative(col("text"))).as("gram"))
    val dfs = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    val withDf = grams.join(dfs, "gram")
    withDf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        round(col("n_common").cast(DoubleType) / col("n_grams"), 4)
          .as("common_frac"),
        (col("n_common").cast(DoubleType) / col("n_grams") >= 0.5)
          .as("is_boilerplate"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by the scrub operator and its demo query —
    * email, IPv4, and a NANP-style 555 phone stub. RE2-safe syntax (no
    * backtracking constructs), so Spark's Java regex and DuckDB's RE2
    * match identically.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val IpRe = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** PII scrubbing (the C4/CCNet redaction pass): replace emails, IPv4
    * addresses, and phone numbers with typed placeholders and count each
    * category. A stateless scan-parallel projection — three codegen'd
    * regexp passes per row, no UDF, no shuffle beyond the orderBy.
    * Category counts come from the ORIGINAL text, so `<EMAIL>` insertion
    * cannot mask a following IP match.
    */
  def piiScrubFrom(spark: SparkSession, corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          IpRe, "<IP>"),
        PhoneRe, "<PHONE>").as("scrubbed"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast(LongType).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(IpRe), lit(0)))
        .cast(LongType).as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
        .cast(LongType).as("n_phones"))
      .orderBy("doc_id")

  /** [[piiScrubFrom]] demo over `documents` ENRICHED with synthetic PII
    * derived deterministically from doc fields (the raw synthetic corpus
    * contains none, which would make the redaction path vacuous; the
    * oracle performs the identical enrichment, so every replacement and
    * count is hash-checked against real matches).
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubFrom(spark, docs(spark, sfDir).select(col("doc_id"),
      concat(
        lit("user"), col("doc_id"), lit("@example.com call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)), lit(".0.1 "),
        col("text")).as("text")))

  /** Gopher-style repetition signals (Rae et al. '21 adapted): for
    * n = 1, 2, 3, the fraction of n-gram OCCURRENCES whose n-gram appears
    * at least twice in the document, plus the combined repetition gate —
    * the standard "degenerate/templated page" pre-training filter next to
    * [[textQuality]]'s length/stopword heuristics.
    *
    * Plan shape: ONE stateless scan-parallel projection, no explode and no
    * shuffle — the native [[graft.expressions.RepStats]] expression counts
    * all three gram sizes in a single token pass (hash-count, no sort),
    * consumed through `inline` so each document tokenizes exactly once
    * (the [[textLangId]] discipline; the sort-adjacency HOF chain it
    * replaces ran interpreted per element and was the slowest bench
    * query at 7.1 s).
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame =
    repetitionStatsFrom(spark, docs(spark, sfDir))

  /** [[repetitionStats]] over any (doc_id, text) frame. */
  def repetitionStatsFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    corpus
      .select(col("doc_id"), inline(array(
        call_function("graft_rep_stats", col("text")))))
      .withColumn("is_repetitive",
        col("dup_word_frac") > 0.6 || col("dup_2gram_frac") > 0.4 ||
          col("dup_3gram_frac") > 0.3)
      .orderBy("doc_id")
  }

  /** Curriculum sharding — exact ntile(nShards) over (quality DESC, doc_id),
    * the "easy/clean data first" ordering pass of curriculum training.
    *
    * Scale shape: `ntile() OVER (ORDER BY ...)` plans a SinglePartition
    * window — one task sorts the corpus. Instead the [[assignIds]] two-level
    * prefix sum is applied to a VALUE-range shard: quality lives in [0,1],
    * so `floor(quality * qBuckets)` is a deterministic range bucket that is
    * monotonic in the sort key; per-bucket counts prefix-sum (descending)
    * into start offsets, each bucket ranks its own rows in parallel, and
    * the closed form of ntile's remainder-to-early-buckets rule (with
    * q = N div nShards, r = N mod nShards, the first r tiles hold q+1 rows
    * and the rest hold q) maps the global position to its tile exactly —
    * for any N, not just multiples of nShards. At 100 TB the bucket count
    * is the parallelism knob (finer buckets, same tiny offsets table).
    */
  def curriculum(spark: SparkSession, sfDir: String, nShards: Int = 10,
      qBuckets: Int = 20): DataFrame =
    curriculumFrom(spark, docs(spark, sfDir), nShards, qBuckets)

  /** [[curriculum]] over any (doc_id, text) frame. */
  def curriculumFrom(spark: SparkSession, corpus: DataFrame,
      nShards: Int = 10, qBuckets: Int = 20): DataFrame = {
    val base = corpus
      .select(col("doc_id"), round(qualityCol, 4).as("quality"))
      .withColumn("qb",
        least(floor(col("quality") * qBuckets), lit(qBuckets - 1))
          .cast(LongType))
    val offsets = base.groupBy("qb").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        sum(col("cnt")).over(Window.orderBy(col("qb").desc)) - col("cnt"))
    val total = offsets.agg(sum(col("cnt")).as("n_total"))
    val w = Window.partitionBy("qb").orderBy(col("quality").desc, col("doc_id"))
    // ntile's exact rule: the first r tiles hold q+1 rows, the rest hold q
    // (q = N div nShards, r = N mod nShards). ceil(a/b) in integer form is
    // floor((a + b - 1) / b); the else branch (divide by q) is only reached
    // when pos > (q+1)*r, which with q = 0 covers all rows, so q is nonzero
    // whenever that branch evaluates.
    val q = floor(col("n_total") / nShards)
    val r = col("n_total") % nShards
    val bigRows = (q + 1) * r // rows covered by the oversized tiles
    base.join(broadcast(offsets.select(col("qb"), col("offset"))), "qb")
      .withColumn("pos", col("offset") + row_number().over(w))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"),
        when(col("pos") <= bigRows,
            floor((col("pos") + q) / (q + 1)))
          .otherwise(r + floor((col("pos") - bigRows + q - 1) / q))
          .cast(LongType).as("shard"))
      .orderBy("doc_id")
  }

  /** Token-budget sampling — admit documents in seeded-hash order until each
    * language's running token total reaches `budget` (the "give me the first
    * N tokens per language" cut of a training-mix builder). A document is
    * admitted iff its START offset is inside the budget, so the last
    * admitted document may straddle the boundary — the packing stage
    * truncates, mirroring [[packChunks]] semantics.
    *
    * Scale shape: the per-lang running sum uses the [[packChunks]] two-level
    * prefix sum, with the shard = the first byte of the seeded md5 sort key
    * (a prefix of the sort key, hence monotonic in it — hex string order and
    * numeric order agree). Shards whose start offset already exceeds the
    * budget are pruned by the broadcast offsets join BEFORE their rows
    * shuffle: the window only ever sees ~budget worth of documents per
    * language, no matter the corpus size.
    */
  def tokenBudgetSample(spark: SparkSession, sfDir: String,
      budget: Long = 2000): DataFrame =
    tokenBudgetCore(
      docs(spark, sfDir).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")),
      budget)

  /** [[tokenBudgetSample]] counting TOKENIZER tokens instead of whitespace
    * words — production budgets are denominated in the tokens the model
    * will actually see. Counting replays a FROZEN merge table
    * ([[BpeTrainer.FrozenMerges]] by default — a released tokenizer, not
    * one retrained per query): the corpus's distinct words encode once
    * through the merge chain ([[BpeTrainer.bpeEncode]], vocab-sized), and
    * per-document token counts come from a BROADCAST word→n_symbols
    * lookup join — the corpus scans once and never shuffles on text; only
    * (doc_id, lang, count) rows enter the budget prefix sum, which is the
    * same shard-pruned two-level machinery as the whitespace variant.
    */
  def tokenBudgetSampleBpe(spark: SparkSession, sfDir: String,
      budget: Long = 2000,
      merges: Seq[(String, String)] = BpeTrainer.FrozenMerges): DataFrame =
    tokenBudgetCore(bpePerDocTokenCounts(docs(spark, sfDir), merges), budget)

  /** Per-document frozen-tokenizer token counts — the counting chain
    * shared by [[tokenBudgetSampleBpe]] and [[packChunksBpe]]: distinct
    * words encode once through the merge chain, a broadcast
    * word→n_symbols join prices each occurrence, and the per-doc rollup
    * is map-side combined (a doc's exploded tokens collapse to one row
    * before the shuffle). Documents with no countable words produce NO
    * row (the inner join) — the BPE accountants' documented contract.
    */
  private def bpePerDocTokenCounts(corpus: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val wordSyms = BpeTrainer.bpeWordSymbols(corpus, merges)
      .select(col("word"), col("n_symbols"))
    corpus
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordSyms), "word")
      .groupBy("doc_id", "lang")
      .agg(sum(col("n_symbols")).as("n_tokens"))
  }

  /** Frozen-tokenizer fertility and compression per language — the
    * accounting a mixture designer reads before setting per-language
    * budgets (a language the tokenizer fragments 2x pays 2x the context
    * per word; the standard argument for tokenizer-aware sampling).
    * `tokens_per_word` is fertility, `chars_per_token` compression.
    *
    * Same counting shape as [[tokenBudgetSampleBpe]]: distinct words
    * encode once, a broadcast lookup join prices each occurrence, the
    * per-lang rollup is map-side combined — the corpus scans once and
    * the shuffle carries #langs rows per partition.
    */
  def bpeStats(spark: SparkSession, sfDir: String,
      merges: Seq[(String, String)] = BpeTrainer.FrozenMerges): DataFrame = {
    val corpus = docs(spark, sfDir)
    val wordSyms = BpeTrainer.bpeWordSymbols(corpus, merges)
      .select(col("word"), col("n_symbols"),
        length(col("word")).cast(LongType).as("word_chars"))
    corpus
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordSyms), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_symbols")).as("n_tokens"),
        sum(col("word_chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast(DoubleType) / col("n_words"), 4)
          .as("tokens_per_word"),
        round(col("n_chars").cast(DoubleType) / col("n_tokens"), 4)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** Tokenizer coverage curve: per language, the share of word
    * OCCURRENCES the frozen tokenizer encodes to 1 / 2 / 3 / 4+ symbols
    * — the "is this tokenizer fair to language X" audit (a language
    * stuck at 4+ pays a proportionally shorter effective context window
    * and more compute per byte; the fertility companion to
    * [[bpeStats]]'s averages, as a distribution). Same counting shape:
    * distinct words encode once, broadcast lookup join, #langs x 4
    * rows out.
    */
  def bpeVocabCoverage(spark: SparkSession, sfDir: String,
      merges: Seq[(String, String)] = BpeTrainer.FrozenMerges): DataFrame = {
    val corpus = docs(spark, sfDir)
    val wordSyms = BpeTrainer.bpeWordSymbols(corpus, merges)
      .select(col("word"), col("n_symbols"))
    val w = Window.partitionBy("lang")
    corpus
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordSyms), "word")
      .withColumn("bucket",
        when(col("n_symbols") === 1, "1")
          .when(col("n_symbols") === 2, "2")
          .when(col("n_symbols") === 3, "3")
          .otherwise("4+"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_words"))
      .withColumn("share",
        floor(col("n_words").cast(DoubleType) / sum(col("n_words")).over(w)
          * 10000 + 0.5) / 10000)
      .orderBy("lang", "bucket")
  }

  /** The budget prefix-sum core shared by the whitespace and BPE token
    * accountants: seeded-hash admission order, shard = first byte of the
    * md5 sort key (monotonic prefix), under-budget shard pruning BEFORE
    * the per-shard window (see [[tokenBudgetSample]] scaladoc).
    */
  /** [[tokenBudgetSample]]'s core over an arbitrary
    * (doc_id, lang, n_tokens) frame — the composition form (budget the
    * survivors of an upstream stage). Package-visible so composition specs
    * can drive the batch chain over intermediate frames.
    */
  private[graft] def tokenBudgetCore(counts: DataFrame,
      budget: Long): DataFrame = {
    val base = counts
      .withColumn("skey", md5(concat(lit("tb:"), col("doc_id"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 2), 16, 10).cast(LongType))
    val offsets = base.groupBy("lang", "shard")
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("tok_offset",
        sum(col("shard_tokens")).over(
          Window.partitionBy("lang").orderBy("shard")) - col("shard_tokens"))
      .filter(col("tok_offset") < budget) // later shards can't contribute
      .select(col("lang").as("o_lang"), col("shard").as("o_shard"),
        col("tok_offset"))
    val w = Window.partitionBy("lang", "shard")
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets),
        col("lang") === col("o_lang") && col("shard") === col("o_shard"))
      .withColumn("start_offset",
        col("tok_offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("start_offset") < budget)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("start_offset"))
      .orderBy("lang", "start_offset", "doc_id")
  }

  /** Unigram LM perplexity — the CCNet-style quality filter: score each
    * document by the perplexity of a unigram language model estimated from
    * the corpus itself (P(t) = corpus frequency / total tokens). High
    * perplexity marks out-of-distribution/garbage pages; the standard
    * pre-training filter alongside [[textQuality]]'s heuristics.
    *
    * Plan shape: the corpus tokenizes ONCE; global token frequencies are
    * a map-side-combined `groupBy(token).count()` (vocab-sized result)
    * joined back onto the occurrence rows — NOT a token-partitioned
    * window: WindowExec has no partial aggregation and AQE cannot split
    * a window partition, so at 100 TB a stopword's window partition is
    * one task processing that token's entire global stream; the keyed
    * agg combines map-side and the join-back is AQE-skew-splittable
    * (the [[lmKneserNeyFrom]] continuation-count discipline). The
    * total-token normalizer is a 1-row broadcast, and each document's
    * log-prob sum folds its POSITION-ORDERED array sequentially —
    * bit-identical accumulation order on both engines, so the oracle
    * hash-matches (a bare float SUM across rows would be
    * partial-aggregation-order dependent).
    */
  def lmPerplexity(spark: SparkSession, sfDir: String): DataFrame =
    lmPerplexityFrom(spark, docs(spark, sfDir))

  /** [[lmPerplexity]] over any (doc_id, text) frame. */
  def lmPerplexityFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val toksPos = corpus
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "token")))
    val freqs = toksPos.groupBy("token")
      .agg(count(lit(1)).cast(LongType).as("freq"))
    val withFreq = toksPos.join(freqs, "token")
    // total tokens: exact integer aggregate, 1-row broadcast
    val total = corpus
      .agg(sum(size(tokens(col("text")))).cast(LongType).as("n_total"))
    withFreq.crossJoin(broadcast(total))
      .withColumn("lnp", log(col("freq").cast(DoubleType) / col("n_total")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lnp"))))
        .as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast(LongType).as("n_tokens"),
        aggregate(transform(col("arr"), x => x.getField("lnp")),
          lit(0.0), (a, b) => a + b).as("sum_lnp"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("sum_lnp") / col("n_tokens"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_tokens")), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Min-K% prob membership/contamination score (Shi et al., ICLR'24
    * "Detecting Pretraining Data from Large Language Models"): for each
    * document, the mean NLL of its k%=20% LEAST-probable tokens under
    * the corpus LM. The intuition: a document the model (here: the
    * corpus statistics) has seen scores well even on its rarest tokens,
    * so a LOW min-k NLL flags likely members/duplicates — the
    * membership-inference test run as a batch contamination audit over
    * an eval set before it is trusted.
    *
    * Determinism: token "probability" is the [[lmPerplexity]] unigram
    * freq/N, so the bottom-k selection can rank by the INTEGER freq
    * (monotone in lnp) with the position tie-break — no float ordering
    * anywhere; selected lnps are micro-quantized per token and
    * integer-summed (order-invariant, the UnigramTrainer discipline).
    *
    * Scale shape: one tokenize pass, token-type-sized freq agg joined
    * back (AQE-skew-splittable keyed join, never a token-keyed window),
    * a doc-keyed bounded rank window, two doc-keyed aggs. No
    * corpus-sized sort, nothing driver-side.
    */
  def minkContamination(spark: SparkSession, sfDir: String): DataFrame =
    minkContaminationFrom(spark, docs(spark, sfDir))

  /** [[minkContamination]] over any (doc_id, text) frame. */
  def minkContaminationFrom(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    val toksPos = corpus
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "token")))
    val freqs = toksPos.groupBy("token")
      .agg(count(lit(1)).cast(LongType).as("freq"))
    val total = corpus
      .agg(sum(size(tokens(col("text")))).cast(LongType).as("n_total"))
    val ranked = toksPos.join(freqs, "token")
      .crossJoin(broadcast(total))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("freq").asc, col("pos").asc)))
      .withColumn("m",
        floor(log(col("freq").cast(DoubleType) / col("n_total"))
          * 1000000d + 0.5d).cast(LongType))
    // per-doc sizes straight off the corpus scan (NOT an agg over the
    // ranked chain — that would re-execute tokenize+freq+window twice)
    val sizes = corpus.select(col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      // ceil(n/5) via integer arithmetic — Column `/` is DOUBLE division,
      // so floor it back explicitly (exact for any corpus-sized n)
      .withColumn("n_mink",
        floor((col("n_tokens") + 4L) / 5L).cast(LongType))
    ranked.join(sizes, "doc_id")
      .filter(col("rn") <= col("n_mink"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_mink"))
      .agg(sum(col("m")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_mink"),
        // explicit half-up quantize, NOT round(,4): the mean lands on
        // 4-decimal half-points (hit doc 648 at sf0.1) where Spark's
        // BigDecimal round and DuckDB's disagree by 1 ulp of the digit;
        // this is the same IEEE op sequence on both engines
        (floor((-(col("s").cast(DoubleType) / 1000000d) / col("n_mink"))
          * 10000d + 0.5d) / 10000d).as("mink_avg_nll"))
      .orderBy("doc_id")
  }

  /** The CCNet perplexity GATE (Wenzek'19 §4.3): each document bucketed
    * head/middle/tail by its [[lmPerplexity]] score WITHIN its language —
    * head = the lowest-perplexity (most in-distribution) third, the slice
    * CCNet keeps outright; tail = the third a curation run drops or
    * down-weights. Terciles instead of fixed thresholds make the gate
    * distribution-relative, which is the point of the method (a language
    * with generally higher perplexity is not penalized wholesale).
    *
    * Determinism: the tercile split orders by the ROUNDED perplexity with
    * doc_id tie-break (total order both engines); the tercile comes from
    * the exact per-lang rank via ntile's closed form (first r tiles hold
    * q+1 rows — the [[curriculum]] rule), so it equals the oracle's
    * `ntile(3)` for any N. Scale: the perplexity plan (one tokenize
    * pass) + the [[rankPerKey]] two-level rank — a lang-alone ntile
    * window would sort a whole language's docs in ONE task at 10⁹ docs;
    * here the per-row window is (lang, perplexity-range-bucket)-bounded.
    */
  def perplexityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = docs(spark, sfDir)
    val ppl = lmPerplexityFrom(spark, corpus)
      .select(col("doc_id"), col("n_tokens"), col("perplexity"))
    val langs = corpus.select(col("doc_id"), col("lang"))
    // fenced: the rank's offsets branch and the totals agg would each
    // re-plan (and re-run) the perplexity chain otherwise
    val base = ppl.join(langs, "doc_id").transform(Fence)
    val totals = base.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val ranked = rankPerKey(base, "lang",
      floor(col("perplexity") / 16.0d),
      Seq(col("perplexity"), col("doc_id")), "_prk")
      .join(broadcast(totals), "lang")
    val q = floor(col("n_total") / 3)
    val r = col("n_total") % 3
    val bigRows = (q + 1) * r
    ranked
      .withColumn("tercile",
        when(col("_prk") <= bigRows, floor((col("_prk") + q) / (q + 1)))
          .otherwise(r + floor((col("_prk") - bigRows + q - 1) / q))
          .cast(LongType))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("perplexity"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Bigram LM perplexity with add-V (Laplace) smoothing — the next model
    * order up from [[lmPerplexity]]: P(w_i | w_{i-1}) =
    * (c(w_{i-1} w_i) + 1) / (c_prefix(w_{i-1}) + V), where c_prefix counts
    * the prefix's occurrences WITH a successor and V is the corpus
    * vocabulary size. Unsmoothed bigram models zero out on any unseen
    * pair; the Laplace floor keeps every document scoreable, which is what
    * a filtering pass needs.
    *
    * Plan shape: the unigram discipline extended one order — tokenize
    * once, successor via a per-document `lead` window (doc-keyed,
    * bounded); bigram counts are ONE map-side-combined
    * `groupBy(token, nxt).count()` (bigram-type-sized), the prefix count
    * derives from that types frame (`sum(c_bg) group by token` —
    * vocab-sized, never re-touching the occurrence rows), both joined
    * back (AQE-skew-splittable, unlike a token-partitioned window whose
    * stopword partition is one unsplittable task at 100 TB); V is a
    * 1-row broadcast, and the per-document log-prob sum folds the
    * position-ordered array so accumulation order is engine-identical.
    */
  def lmBigram(spark: SparkSession, sfDir: String): DataFrame =
    lmBigramFrom(spark, docs(spark, sfDir))

  /** [[lmBigram]] over any (doc_id, text) frame. Documents with fewer than
    * two tokens have no bigrams and are absent from the output.
    */
  def lmBigramFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val toksPos = corpus
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "token")))
    val bigrams = toksPos
      .withColumn("nxt",
        lead(col("token"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
    val cBg = bigrams.groupBy("token", "nxt")
      .agg(count(lit(1)).cast(LongType).as("c_bg"))
    val cPrefix = cBg.groupBy("token")
      .agg(sum(col("c_bg")).cast(LongType).as("c_prefix"))
    // enrich the TYPE-sized frames first (bigram-types join, cheap), so
    // the occurrence rows shuffle exactly ONCE — for the single (token,
    // nxt) join-back — instead of once per count key
    val cAll = cBg.join(cPrefix, "token")
    val withC = bigrams.join(cAll, Seq("token", "nxt"))
    val vocab = toksPos.agg(countDistinct(col("token")).as("v_size"))
    withC.crossJoin(broadcast(vocab))
      .withColumn("lnp",
        log((col("c_bg").cast(DoubleType) + 1.0) /
          (col("c_prefix").cast(DoubleType) + col("v_size"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lnp"))))
        .as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast(LongType).as("n_bigrams"),
        aggregate(transform(col("arr"), x => x.getField("lnp")),
          lit(0.0), (a, b) => a + b).as("sum_lnp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lnp") / col("n_bigrams"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_bigrams")), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney '95; the
    * Chen & Goodman '98 formulation with fixed discount d = 0.75) — the
    * production n-gram smoothing, one model up from [[lmBigram]]'s
    * Laplace floor: P(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁·)
    * + d·N₁₊(w₁,·)/c(w₁·) · N₁₊(·,w₂)/N₁₊(·,·) — the continuation
    * probability scores how many CONTEXTS a word completes, not how
    * often it occurs (the "San Francisco" correction).
    *
    * Plan shape: [[lmBigramFrom]]'s keyed aggs give c(w₁w₂)/c(w₁·) (one
    * map-side-combined bigram-types agg, prefix derived from it); the
    * three continuation statistics come from that SAME types frame —
    * two vocab-sized keyed aggs joined back onto the bigram rows (keyed,
    * map-side combined; a collect_set window would hold a stopword
    * prefix's whole successor set in one partition) and a 1-row types
    * total broadcast. Per-doc fold is position-ordered, engine-identical.
    */
  def lmKneserNey(spark: SparkSession, sfDir: String): DataFrame =
    lmKneserNeyFrom(spark, docs(spark, sfDir))

  /** [[lmKneserNey]] over any (doc_id, text) frame; every scored bigram
    * is observed in the corpus, so the discounted term is always > 0 and
    * no unseen-prefix backoff case arises.
    */
  def lmKneserNeyFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val toksPos = corpus
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "token")))
    val bigrams = toksPos
      .withColumn("nxt",
        lead(col("token"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("nxt").isNotNull)
    val cBg = bigrams.groupBy("token", "nxt")
      .agg(count(lit(1)).cast(LongType).as("c_bg"))
    val cPrefix = cBg.groupBy("token")
      .agg(sum(col("c_bg")).cast(LongType).as("c_prefix"))
    // the bigram-types frame IS cBg's key set — every continuation
    // statistic derives from it without re-touching occurrence rows
    val bt = cBg.select(col("token"), col("nxt"))
    val n1f = bt.groupBy(col("token"))
      .agg(count(lit(1)).cast(LongType).as("n1_fwd"))
    val n1b = bt.groupBy(col("nxt"))
      .agg(count(lit(1)).cast(LongType).as("n1_bwd"))
    val types = bt.agg(count(lit(1)).cast(LongType).as("n_types"))
    // enrich the TYPE-sized frames first, then ONE (token, nxt)
    // join-back — the occurrence rows shuffle once, not once per stat
    val cAll = cBg.join(cPrefix, "token").join(n1f, "token")
      .join(n1b, "nxt")
    val withC = bigrams.join(cAll, Seq("token", "nxt"))
    val d = lit(0.75)
    withC
      .crossJoin(broadcast(types))
      .withColumn("lnp", log(
        (col("c_bg").cast(DoubleType) - d) /
          col("c_prefix").cast(DoubleType) +
        d * col("n1_fwd").cast(DoubleType) /
          col("c_prefix").cast(DoubleType) *
          (col("n1_bwd").cast(DoubleType) /
            col("n_types").cast(DoubleType))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lnp"))))
        .as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast(LongType).as("n_bigrams"),
        aggregate(transform(col("arr"), x => x.getField("lnp")),
          lit(0.0), (a, b) => a + b).as("sum_lnp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lnp") / col("n_bigrams"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_bigrams")), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Jelinek-Mercer interpolated TRIGRAM perplexity — the model order up
    * from [[lmKneserNey]]: P(w₃|w₁w₂) = 0.6·c(w₁w₂w₃)/c(w₁w₂·)
    * + 0.3·c(·w₂w₃)/c(·w₂·) + 0.1·c(··w₃)/N, every count over the
    * corpus's TRIGRAM event space (self-consistent: all denominators of
    * an observed trigram are ≥ 1, so no backoff special case and no
    * floor is needed). Plan: two per-doc lead windows; ONE
    * map-side-combined `groupBy(w1,w2,w3).count()` over the occurrence
    * rows, with every lower-order count (c_b12, c_b23, c_b2, c_u3)
    * derived from that trigram-types frame by keyed re-aggregation —
    * the occurrence rows shuffle exactly once and all joins back are
    * AQE-skew-splittable (the lm_bigram discipline; a token-keyed
    * window would funnel a stopword's whole stream through one task) —
    * then the 1-row N broadcast and the position-ordered per-doc fold.
    */
  def lmTrigram(spark: SparkSession, sfDir: String): DataFrame =
    lmTrigramFrom(spark, docs(spark, sfDir))

  /** [[lmTrigram]] over any (doc_id, text) frame; documents with fewer
    * than three tokens have no trigrams and are absent from the output.
    */
  def lmTrigramFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    // round 16 (§2 remove shuffles outright): tri is referenced twice
    // (the join-back and the scoring rows) and cTri FIVE times (itself +
    // the four lower-order re-aggregations) — unfenced, each reference
    // re-planned the tokenize + double-lead-window + trigram-count
    // subtree, 19 exchanges total. Fencing both runs the tokenization
    // once and the trigram count once; the four lower-order
    // re-aggregations become type-sized passes over the fenced leaf.
    // n_tri is derived as sum(c_tri) from the type frame (≡ count of
    // occurrence rows, exactly — every occurrence lands in one type
    // group), which drops the third pass over the occurrence rows.
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val tri = Fence(corpus
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(byDoc))
      .withColumn("w3", lead(col("w1"), 2).over(byDoc))
      .filter(col("w3").isNotNull))
    val cTri = Fence(tri.groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).cast(LongType).as("c_tri")))
    val cB12 = cTri.groupBy("w1", "w2")
      .agg(sum(col("c_tri")).cast(LongType).as("c_b12"))
    val cB23 = cTri.groupBy("w2", "w3")
      .agg(sum(col("c_tri")).cast(LongType).as("c_b23"))
    val cB2 = cTri.groupBy("w2")
      .agg(sum(col("c_tri")).cast(LongType).as("c_b2"))
    val cU3 = cTri.groupBy("w3")
      .agg(sum(col("c_tri")).cast(LongType).as("c_u3"))
    // enrich the TYPE-sized frames first (every join below moves
    // trigram-type rows, never occurrences), then ONE (w1, w2, w3)
    // join-back — the occurrence rows shuffle once, not once per order
    val cAll = cTri
      .join(cB12, Seq("w1", "w2"))
      .join(cB23, Seq("w2", "w3"))
      .join(cB2, Seq("w2"))
      .join(cU3, Seq("w3"))
    val withC = tri.join(cAll, Seq("w1", "w2", "w3"))
    val total = cTri.agg(sum(col("c_tri")).cast(LongType).as("n_tri"))
    withC.crossJoin(broadcast(total))
      .withColumn("lnp", log(
        lit(0.6) * col("c_tri").cast(DoubleType) /
          col("c_b12").cast(DoubleType) +
        lit(0.3) * col("c_b23").cast(DoubleType) /
          col("c_b2").cast(DoubleType) +
        lit(0.1) * col("c_u3").cast(DoubleType) /
          col("n_tri").cast(DoubleType)))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lnp"))))
        .as("arr"))
      .select(col("doc_id"),
        size(col("arr")).cast(LongType).as("n_trigrams"),
        aggregate(transform(col("arr"), x => x.getField("lnp")),
          lit(0.0), (a, b) => a + b).as("sum_lnp"))
      .select(col("doc_id"), col("n_trigrams"),
        round(-col("sum_lnp") / col("n_trigrams"), 4).as("avg_nll"),
        round(exp(-col("sum_lnp") / col("n_trigrams")), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — same answer as [[decontaminate]],
    * different 100 TB shape. [[decontaminate]] shuffles EVERY fingerprint in
    * the corpus once (one group-by-fingerprint pass). Here the eval side's
    * fingerprints (the small side: benchmarks, not the crawl) aggregate into
    * a bloom filter via Spark's native `BloomFilterAggregate` (a scalar
    * subquery — the same build-side role as a broadcast hash join), train
    * fingerprints stream through the codegen'd `might_contain` prefilter,
    * and only the survivors — bounded by |eval| + false positives — reach
    * the exact equi-join that removes bloom false positives. The corpus-
    * sized shuffle disappears; the trade is re-winnowing the scan (stateless,
    * scan-parallel) instead of materializing it, the same trade
    * [[packChunks]] documents.
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    docs(spark, sfDir).createOrReplaceTempView("graft_bloom_docs")
    spark.sql("""
      WITH fp AS (
        SELECT doc_id, fingerprint
        FROM graft_bloom_docs
        LATERAL VIEW explode(graft_winnow(text)) t AS fingerprint),
      ev AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1),
      tr AS (
        SELECT DISTINCT fingerprint FROM fp
        WHERE doc_id % 2 = 0
          AND graft_might_contain(
            (SELECT graft_bloom_agg(fingerprint, 131072L) FROM ev),
            fingerprint))
      SELECT ev.doc_id AS eval_doc_id, count(*) AS n_shared
      FROM ev JOIN tr ON ev.fingerprint = tr.fingerprint
      GROUP BY ev.doc_id ORDER BY eval_doc_id""")
  }

  /** Fill-in-the-middle training-format preparation (Bavarian'22's PSM
    * transform, the accounting side): each document deterministically
    * either stays causal or splits into (prefix, middle, suffix) at two
    * hash-derived token cut points — the 50% FIM-rate config code-infill
    * models train with. Emits the exact token accounting (n_prefix /
    * n_middle / n_suffix partition n_tokens) plus the md5 of the middle
    * span, so a downstream packer can budget PSM sequences and a reader
    * can verify the span content without the row carrying text.
    *
    * Determinism: cut points are `md5(salt ‖ doc_id)` 16-bit values mod
    * (n+1) (the hashBucket derivation, raw instead of %100), lo/hi by
    * least/greatest — pure per-row expressions, no state. Scale: one
    * scan-parallel projection, the only exchange is the presentation
    * sort.
    */
  def fimSplit(spark: SparkSession, sfDir: String): DataFrame =
    fimSplitFrom(docs(spark, sfDir))

  /** [[fimSplit]] over any (doc_id, text) frame. */
  def fimSplitFrom(corpus: DataFrame): DataFrame = {
    def hash16(salt: String): Column =
      conv(substring(md5(concat(lit(salt), col("doc_id"))), 1, 4), 16, 10)
        .cast(LongType)
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val base = corpus.select(col("doc_id"), toks.as("toks"),
      (hashBucket("fimr:") < 50).as("fim"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("c1", hash16("fim1:") % (col("n_tokens") + 1))
      .withColumn("c2", hash16("fim2:") % (col("n_tokens") + 1))
      .withColumn("lo", when(col("fim"), least(col("c1"), col("c2")))
        .otherwise(col("n_tokens")))
      .withColumn("hi", when(col("fim"), greatest(col("c1"), col("c2")))
        .otherwise(col("n_tokens")))
    base.select(col("doc_id"), col("fim"), col("n_tokens"),
      col("lo").as("n_prefix"),
      (col("hi") - col("lo")).as("n_middle"),
      (col("n_tokens") - col("hi")).as("n_suffix"),
      md5(array_join(slice(col("toks"), col("lo") + 1,
        (col("hi") - col("lo")).cast("int")), " ")).as("middle_md5"))
      .orderBy("doc_id")
  }

  /** Head size for the [[zipfFit]] regression. */
  private val ZipfTopN = 256

  /** Zipf-law fit of the token frequency distribution — the corpus
    * health statistic behind tokenizer budgeting and dedup planning: a
    * natural-language corpus follows `freq ∝ rank^s` with s ≈ −1; a
    * slope far from −1 flags boilerplate floods (flat head) or
    * template/spam domination (cliff), and r² measures how lawful the
    * head is. Fits ordinary least squares of ln(freq) on ln(rank) over
    * the top-[[ZipfTopN]] tokens; emits slope, intercept and r² in
    * micro units plus the head/total occurrence masses.
    *
    * Determinism: ln values micro-quantize per row, the five regression
    * sums are exact BIGINTs (every product bounded well under 2⁶³), and
    * slope/intercept/r² are computed from those integers by identical
    * double expressions on both engines. Degenerate heads pin exactly:
    * constant frequencies → r² = 10⁶ (slope 0 fits perfectly), a 1-token
    * head → slope 0.
    *
    * Scale: ONE map-side-combined token count (vocab-sized), a
    * TakeOrdered top-N (never a global sort), the post-limit rank
    * window on ≤ N rows, and 1-row aggs — the statistic costs one scan
    * at any corpus size.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .transform(Fence)
    val top = tf.orderBy(col("freq").desc, col("token")).limit(ZipfTopN)
      // post-limit numbering: <= ZipfTopN rows (the simTopK note)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("freq").desc, col("token")))
        .cast(LongType))
      .select(
        floor(log(col("rank").cast("double")) * 1000000d + 0.5d)
          .cast(LongType).as("lx"),
        floor(log(col("freq").cast("double")) * 1000000d + 0.5d)
          .cast(LongType).as("ly"),
        col("freq"))
    val s = top.agg(count(lit(1)).cast(LongType).as("n"),
      sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
      sum(col("lx") * col("lx")).as("sxx"),
      sum(col("ly") * col("ly")).as("syy"),
      sum(col("lx") * col("ly")).as("sxy"),
      sum(col("freq")).cast(LongType).as("head_occ"))
    val a = col("n") * col("sxy") - col("sx") * col("sy")
    val b = col("n") * col("sxx") - col("sx") * col("sx")
    val c = col("n") * col("syy") - col("sy") * col("sy")
    val slope = when(b === 0, lit(0.0d))
      .otherwise(a.cast("double") / b.cast("double"))
    s.crossJoin(broadcast(
        tf.agg(sum(col("freq")).cast(LongType).as("total_occ"))))
      .select(col("n").as("n_top"), col("head_occ"), col("total_occ"),
        floor(slope * 1000000d + 0.5d).cast(LongType).as("slope_q6"),
        when(col("n") === 0, lit(0L))
          .otherwise(floor((col("sy").cast("double")
            - slope * col("sx").cast("double")) / col("n").cast("double")
            + 0.5d).cast(LongType)).as("intercept_q6"),
        when(c === 0 || b === 0, lit(1000000L))
          .otherwise(floor(a.cast("double") * a.cast("double")
            / (b.cast("double") * c.cast("double")) * 1000000d + 0.5d)
            .cast(LongType)).as("r2_q6"))
  }

  /** The DuckDB replay of [[zipfFit]] (same integer sums, same final
    * double expressions).
    */
  private[graft] def zipfFitOracleSql: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok
  WHERE length(token) > 0 GROUP BY token),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_occ FROM tf),
top AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
  FROM tf ORDER BY freq DESC, token LIMIT $ZipfTopN),
lxy AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx,
  CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly, freq FROM top),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
  CAST(sum(lx * lx) AS BIGINT) AS sxx, CAST(sum(ly * ly) AS BIGINT) AS syy,
  CAST(sum(lx * ly) AS BIGINT) AS sxy,
  CAST(sum(freq) AS BIGINT) AS head_occ FROM lxy),
d AS (SELECT n, sx, sy, head_occ,
  n * sxy - sx * sy AS a, n * sxx - sx * sx AS b, n * syy - sy * sy AS c
  FROM s),
f AS (SELECT n, sx, sy, head_occ, a, b, c,
  CASE WHEN b = 0 THEN 0.0 ELSE CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS slope
  FROM d)
SELECT n AS n_top, head_occ, tot.total_occ,
  CAST(floor(slope * 1000000 + 0.5) AS BIGINT) AS slope_q6,
  CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
    ELSE CAST(floor((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
      / CAST(n AS DOUBLE) + 0.5) AS BIGINT) END AS intercept_q6,
  CASE WHEN c = 0 OR b = 0 THEN CAST(1000000 AS BIGINT)
    ELSE CAST(floor(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
    END AS r2_q6
FROM f, tot"""
}
