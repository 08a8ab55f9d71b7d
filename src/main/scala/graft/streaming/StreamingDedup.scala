package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues}

import graft.functions.TextFunctions._

/** One surviving (band, digest) arrival at the near-dedup re-assembly stage;
  * `text` is non-null ONLY on the band-0 row (the 1x-text shuffle shape).
  */
final case class BandArrival(docId: Long, tsMs: Long, band: Int, text: String)

/** A document that won all of its LSH band keys. */
final case class NearDupSurvivor(doc_id: Long, text: String, tsMs: Long)

/** Emit-immediate re-assembly for [[StreamingDedup.dedupNearStreamImmediate]]:
  * all band rows of a document are exploded from one input row, travel the
  * SAME micro-batch through the band dedup, and therefore arrive here
  * together — so a survivor can be decided (all `numBands` keys won) and
  * emitted in the batch that delivered the document, no watermark wait. No
  * persistent state is ever written: the processor is a per-key, per-batch
  * counter, so the state store holds only the upstream dedup's digests.
  */
class NearDupEmitProcessor(numBands: Int)
    extends StatefulProcessor[Long, BandArrival, NearDupSurvivor] {

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

  override def handleInputRows(key: Long, rows: Iterator[BandArrival],
      timers: TimerValues): Iterator[NearDupSurvivor] = {
    var fresh = 0
    var tsMs = 0L
    var text: String = null
    rows.foreach { r =>
      fresh += 1
      tsMs = r.tsMs
      if (r.band == 0) text = r.text
    }
    // A document with a stale band has < numBands surviving rows: suppressed.
    // An emitted document always owns its band-0 row (it is fresh), so its
    // own text is present.
    if (fresh == numBands) Iterator.single(NearDupSurvivor(key, text, tsMs))
    else Iterator.empty
  }
}

/** Streaming deduplication for document ingest — the watermarked variant of
  * the batch dedup family (TextPipeline), built on
  * `dropDuplicatesWithinWatermark`: state for a key is dropped once the
  * watermark passes its expiry, so the dedup store stays bounded no matter
  * how long the stream runs (the only viable shape at 100 TB/day ingest —
  * an unbounded `dropDuplicates` would accrete state forever).
  */
object StreamingDedup extends Logging {

  /** Exact dedup on normalized-text digest within the watermark horizon.
    * Emits one representative per digest (arbitrary within a micro-batch,
    * earliest batch across batches); re-emits only if the same text
    * reappears after its state has expired.
    */
  def dedupExactStream(docs: DataFrame, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame = {
    logInfo(s"streaming exact dedup on md5(text), watermark $delay")
    docs
      .withColumn("text_hash", md5(lower(trim(col("text")))))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("text_hash")
  }

  /** Near-dup suppression within the watermark horizon, using ALL 4 MinHash
    * LSH bands — the same candidate rule as the batch twin
    * (TextPipeline.dedupMinHash): a document agreeing with an earlier one on
    * >= 1 band is a duplicate and is suppressed.
    *
    * Plan: explode the 4 band digests, `dropDuplicatesWithinWatermark` on
    * (band, digest) — keep-first, bounded state — then re-assemble per doc:
    * a document survives iff ALL of its band digests were first
    * occurrences. Every digest is registered regardless of whether its doc
    * survives, so transitive near-dup chains collapse to the first arrival,
    * like the batch pair set does.
    *
    * Two documented divergences from the batch twin:
    *  - no exact-Jaccard verification (that would need full shingle sets in
    *    state), so recall is a superset of the batch pairs: everything the
    *    batch suppresses is suppressed here, plus band-collision false
    *    positives the batch verify would reject;
    *  - the re-assembly is a windowed streaming aggregation, so survivors
    *    emit only once the watermark passes their second — exact multi-band
    *    semantics in append mode costs the watermark delay in latency
    *    (dedupExactStream, single-key, still emits immediately).
    *
    * Same-micro-batch tie: two identical documents in ONE batch may each win
    * a subset of the band keys (row order within a batch is arbitrary), in
    * which case BOTH are suppressed. Run [[dedupExactStream]] upstream —
    * the streaming analogue of the batch pipeline's exact pre-collapse —
    * when exact ties must keep a representative.
    *
    * Output contract (narrower than [[dedupExactStream]], which passes all
    * input columns through): (doc_id, text, eventTimeCol), with the event
    * time truncated to its 1-second re-assembly window start.
    *
    * Shuffle note: the band explode carries the text 4x into the dedup
    * shuffle (dedup state itself stores only (band, digest) + expiry).
    * Running behind [[dedupExactStream]] (the pipeline shape) bounds that to
    * distinct documents; if text were huge, explode (doc_id, band, digest)
    * only and re-join survivors — at the cost of a stream-stream join.
    */
  /** The streaming twin of the batch composite pipeline
    * (TextPipeline.dedupPipeline): exact digest dedup FIRST, then multi-band
    * near-dedup among the exact representatives. Besides matching the
    * production shape (exact collapse is the skew/state defense — a page
    * duplicated a million times contributes ONE row to every band key), the
    * pre-collapse resolves [[dedupNearStream]]'s same-micro-batch tie:
    * identical documents in one batch reduce to a single representative
    * before any band key is contested.
    */
  def dedupPipelineStream(docs: DataFrame, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame =
    dedupNearStream(
      dedupExactStream(docs, eventTimeCol, delay).drop("text_hash"),
      eventTimeCol, delay)

  def dedupNearStream(docs: DataFrame, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame = {
    val numBands = 4
    graft.expressions.VectorExpressions.register(docs.sparkSession)
    logInfo(s"streaming near-dedup on all $numBands LSH bands, watermark $delay")
    val exploded = docs
      .select(col("doc_id"), col("text"), col(eventTimeCol),
        posexplode(graft.expressions.VectorExpressions.minHashBandsNative(
          graft.expressions.VectorExpressions.shingleSetNative(col("text"))))
          .as(Seq("band", "digest")))
    val survivors =
      (if (markedOn(docs, eventTimeCol)) exploded
       else exploded.withWatermark(eventTimeCol, delay))
        .dropDuplicatesWithinWatermark("band", "digest")
    survivors
      .groupBy(window(col(eventTimeCol), "1 second"), col("doc_id"))
      .agg(first(col("text")).as("text"),
        count(lit(1)).as("fresh_bands"))
      .filter(col("fresh_bands") === numBands)
      .select(col("doc_id"), col("text"),
        col("window.start").as(eventTimeCol))
  }

  /** [[dedupNearStream]] with the two round-3 caveats engineered out:
    *
    *  - **1x-text shuffle** (was 4x): the band explode carries the text on
    *    the band-0 row ONLY (`when(band = 0, text)`); the other three rows
    *    shuffle (doc_id, band, digest, ts) plus a null. A survivor by
    *    definition won ALL its band keys, so its own band-0 row — and its
    *    text — always reaches re-assembly. Dedup state still stores only
    *    the (band, digest) key fingerprints; text never enters a state
    *    store, and no stream-stream re-join is needed to restore it.
    *  - **emit-immediate** (was watermark-delayed): the four band rows of a
    *    document are exploded from one input row and travel the same
    *    micro-batch through the band dedup, so [[NearDupEmitProcessor]] —
    *    keyed by doc_id, persisting nothing — counts the surviving bands
    *    and emits the survivor in the batch that delivered it. The windowed
    *    variant above waits for the watermark to close the re-assembly
    *    window; this one's survivors are visible in the same
    *    `processAllAvailable` round (latency spec in StreamingSourcesSpec).
    *
    * Same candidate rule and suppression set as [[dedupNearStream]]
    * (equivalence spec), same same-micro-batch tie (run behind
    * [[dedupExactStream]] — [[dedupPipelineStreamImmediate]] is that shape).
    * Output: (doc_id, text, eventTimeCol) at full timestamp precision (the
    * windowed variant truncates to its 1-second window start).
    */
  def dedupNearStreamImmediate(docs: DataFrame, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame = {
    val numBands = 4
    graft.expressions.VectorExpressions.register(docs.sparkSession)
    logInfo(s"streaming near-dedup (emit-immediate, 1x-text shuffle) on " +
      s"all $numBands LSH bands, watermark $delay")
    val exploded = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col(eventTimeCol),
        posexplode(graft.expressions.VectorExpressions.minHashBandsNative(
          graft.expressions.VectorExpressions.shingleSetNative(col("text"))))
          .as(Seq("band", "digest")))
      .select(col("doc_id"), col(eventTimeCol), col("band"), col("digest"),
        when(col("band") === 0, col("text")).as("text"))
    val fresh =
      (if (markedOn(docs, eventTimeCol)) exploded
       else exploded.withWatermark(eventTimeCol, delay))
        .dropDuplicatesWithinWatermark("band", "digest")
    implicit val ae = Encoders.product[BandArrival]
    implicit val se = Encoders.product[NearDupSurvivor]
    fresh
      .select(col("doc_id").as("docId"),
        unix_millis(col(eventTimeCol)).as("tsMs"), col("band"), col("text"))
      .as[BandArrival]
      .groupByKey(_.docId)(Encoders.scalaLong)
      .transformWithState(new NearDupEmitProcessor(numBands),
        TimeMode.None(), OutputMode.Append())
      .select(col("doc_id"), col("text"),
        timestamp_millis(col("tsMs")).as(eventTimeCol))
  }

  /** Emit-immediate composite pipeline: exact digest collapse (immediate by
    * nature) feeding the emit-immediate near-dedup — end-to-end, a unique
    * document is visible in the micro-batch that delivered it.
    */
  def dedupPipelineStreamImmediate(docs: DataFrame, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame =
    dedupNearStreamImmediate(
      dedupExactStream(docs, eventTimeCol, delay).drop("text_hash"),
      eventTimeCol, delay)

  /** Redefining a watermark is disallowed, so when the input is already
    * marked ON this column (e.g. chained after dedupExactStream in the
    * pipeline) reuse it; a watermark on some other column doesn't count.
    */
  /** Streaming decontamination against a PERSISTED eval bloom
    * (PersistedIndex.buildEvalBloom's artifacts) — the ingest twin of the
    * batch probe: each arriving document winnows map-side, its
    * fingerprints pass through the codegen'd `might_contain` prefilter
    * with the bloom blob embedded as a LITERAL (read once, driver-side,
    * ~160 KB — no per-batch scan, no broadcast join), and survivors
    * exact-verify via a STREAM-STATIC join against the persisted eval
    * fingerprint table, so bloom false positives cannot flag a document.
    * Emits (doc_id, n_shared) for contaminated arrivals only; eval text
    * is never read on the ingest path. Run in Update mode: a document's
    * fingerprints travel inside its own input row (array_distinct before
    * the explode — no dedup state), so its count finalizes in the batch
    * that delivered it; the per-doc aggregation state is one long per
    * CONTAMINATED doc (production runs bound it with the usual
    * event-time watermark).
    */
  def decontaminateStream(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, indexPath: String): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    val bloomBytes = spark.read.parquet(s"$indexPath/bloom")
      .head.getAs[Array[Byte]]("bloom")
    val evalFps = spark.read.parquet(s"$indexPath/fingerprints")
      .select(col("fingerprint")).distinct()
    docs
      .select(col("doc_id"),
        explode(array_distinct(graft.expressions.VectorExpressions
          .winnowNative(col("text")))).as("fingerprint"))
      .filter(call_function("graft_might_contain",
        lit(bloomBytes), col("fingerprint")))
      .join(evalFps, "fingerprint") // stream-static exact verify
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Streaming n-gram overlap gate — the ingest twin of
    * [[graft.operators.PersistedIndex.overlapDeltaAgainstIndex]], the
    * [[decontaminateStream]] discipline applied to the shingle index: a
    * document's length-`len` shingle hashes travel inside its own input
    * row (with its total shingle count), prefilter against the embedded
    * bloom LITERAL (novel shingles never shuffle), exact-verify via a
    * stream-static join against `hashes/`, and the per-doc count
    * finalizes in the arrival batch (Update mode, one group per
    * OVERLAPPING doc). Emits (doc_id, n_grams, n_hit, overlap_frac,
    * contaminated) for documents with >= 1 verified hit — a clean
    * document emits nothing, exactly like the fingerprint gate; train
    * text is never read on the ingest path.
    */
  def overlapGateStream(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, indexPath: String,
      len: Int = graft.operators.SubstringDedup.SpanLen): DataFrame = {
    graft.expressions.VectorExpressions.register(spark)
    // pin the shingle store's CURRENT version at stream construction —
    // the bloom literal and the hash segments come from the same
    // snapshot even if a fold lands mid-stream
    val live = graft.operators.StoreVersioning
      .liveTokens(spark, s"$indexPath/manifest")
    val bloomBytes = spark.read
      .parquet(s"$indexPath/bloom/token=${live("bloom").head}")
      .head.getAs[Array[Byte]]("bloom")
    val hashes = graft.operators.StoreVersioning
      .segments(spark, indexPath, "hashes", live("seg")).select(col("h"))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val frac = col("n_hit").cast("double") / col("n_grams")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= len)
      .select(col("doc_id"),
        (size(col("toks")) - (len - 1)).cast("long").as("n_grams"),
        explode(graft.expressions.VectorExpressions
          .shingleHashesNative(col("toks"), len)).as("h"))
      .filter(call_function("graft_might_contain", lit(bloomBytes), col("h")))
      .join(hashes, Seq("h")) // stream-static exact verify (hashes distinct)
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(frac, 4).as("overlap_frac"),
        (frac >= 0.2).as("contaminated"))
  }

  private def markedOn(docs: DataFrame, eventTimeCol: String): Boolean =
    docs.queryExecution.logical.exists {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        w.eventTime.name == eventTimeCol
      case _ => false
    }
}
