package graft

/** Dev harness: dumps scan pruning + exchange stats per SparkEntry query so
  * plan regressions (lost pushdown, interpreted hot paths, surprise
  * exchanges) show up as diffs. Not part of the driver contract — the
  * CI-enforced subset of these invariants lives in PlanAuditSpec.
  *
  * Parses the FORMATTED explain: the compact plan string truncates long
  * fields, so `PushedFilters` counts from it silently under-report.
  */
object PlanAudit {

  /** Queries whose BroadcastNestedLoopJoin is a deliberate 1-row (or
    * nprobe-row) broadcast — the global-now aggregate, query vector,
    * centroid probe, or corpus-size count. Shared with PlanAuditSpec so the
    * dev dump and the CI gate cannot drift.
    */
  val bnljWhitelist: Set[String] = Set(
    "hc_latency_arrival", "hc_latency_event_time",
    "sim_topk", "sim_topk_ivf", "sim_topk_lsh", "sim_topk_lsh_batch",
    "lsh_recall_grid", "lsh_store", "lsh_store_batch",
    "sim_topk_batch", "emb_neardup",
    "emb_centroid_stats", "text_tfidf",
    // 1-row scalar-subquery broadcasts (max revenue / global average /
    // corpus-total threshold)
    "q15_top_supplier", "q22_idle", "q11_important_part", "heavy_hitters",
    // 1-row centroid-bundle broadcasts (Lloyd's assignment)
    "emb_kmeans", "sim_topk_kmeans",
    // 1-row normalizer / corpus-total broadcasts
    "lang_temperature", "curriculum",
    // 1-row bloom-filter scalar subquery (build side of the prefilter)
    "decontaminate_bloom",
    // 1-row n_true normalizer broadcast (the recall denominator); the
    // sim variant also broadcasts the 1-row normals bundle
    "minhash_tune", "sim_recall_tune",
    // 1-row quantized-query + float-query broadcasts
    "sim_topk_q8",
    // 1-row query-vector broadcast (codebooks ride as plan literals)
    "pq_topk", "pq_recall", "pq_store",
    // 1-row query broadcast twice (probe decision + stage-1 scoring)
    "sim_topk_ivfpq",
    // 8-row panel broadcast onto the tiny centroid frame (probe pairing)
    "sim_topk_ivfpq_batch",
    // 1-row query broadcast (stored-centroid probe + both stages)
    "ivfpq_store",
    // 1-row quantized-query + float-query broadcasts (filtered probe)
    "sim_topk_filtered",
    // 1-row query broadcast (range-filtered stored-centroid probe)
    "ivfpq_store_filtered",
    // 1-row query broadcast (filtered candidate verify + exact audit)
    "lsh_store_filtered",
    // 1-row total × 1-row CI frame pairing
    "bootstrap_ci",
    // 4-row seed-norm / 1-row query-norm broadcasts (sparse-dot IVF) +
    // the funnel's 1-row × 1-row candidate-count pairing
    "retrieval_program", "retrieval_funnel",
    // the persisted chain probe carries the same seed-norm/query-norm/
    // 1-row stats broadcasts
    "retrieval_store",
    // the batched panel probe: 4-row seed-norm × 8-row panel-norm
    // pairing + the same 1-row stats broadcast
    "retrieval_store_batch",
    // the scorecard: per-(doc, query) pairing against the 4-row panel
    // norm frames (hybrid cosine + qrels grading) + the store probe's
    // panel broadcasts + the text index's 1-row stats
    "retrieval_ndcg_rankers",
    // the filtered probe: same seed-norm/query-norm/1-row stats
    // broadcasts as retrieval_store
    "retrieval_store_filtered",
    // 1-row n_corpus normalizer broadcast (the indexTopKBatch shape)
    "retrieval_ndcg",
    // 8-row panel broadcasts (probe pairing / query fan-out)
    "sim_topk_filtered_batch", "lsh_store_filtered_batch",
    // 1-row query broadcast per prefix-dim ranking branch
    "mrl_recall",
    // 1-row corpus-total broadcast (the global-LM denominator)
    "excess_loss_select",
    // 1-row query broadcast + the k-row pool self-pairing (both sides
    // are the checkpointed 20-row candidate leaf)
    "mmr_rerank",
    // 1-row total-token normalizer broadcast
    "lm_perplexity",
    // the same 1-row corpus-total broadcast under the bottom-k% rank
    "mink_contamination",
    // the same 1-row total-token broadcast inside the gate's ppl plan
    "perplexity_gate",
    // 8-row query-panel broadcasts (the simTopKBatch pattern) + the tiny
    // nprobe/over_fetch axis frames joined on range predicates
    "ann_recall_grid",
    // 1-row n_total/z normalizer broadcast (the langTemperature shape)
    "temperature_sample",
    // 1-row n_sources broadcast (the uniform-share denominator)
    "data_epochs",
    // 1-row n_src + 1-row boundary broadcasts over the fenced
    // #sources-row supply frame, plus that frame's #sources² pairing
    "budget_waterfill",
    // 1-row totals + 1-row leftover broadcasts over the fenced
    // #cells-row frame (the budget_waterfill class); eval_sample plans
    // the same alloc subtree under its quota targets
    "eval_alloc", "eval_sample",
    // #sources² signature self-pairing — both sides the 16-column
    // signature table (one row per source)
    "source_overlap_sketch",
    // per-axis 1-row n_left/n_right count broadcasts onto the 1-row
    // cardinality rollup (plan_advisor projects the same tree)
    "join_cardinality", "plan_advisor",
    // 1-row corpus-mean array broadcast onto the #sources-row frame
    "emb_drift",
    // #langs x #langs pair-axis frame (the ann_recall_grid tiny-frame
    // class): both sides are the checkpointed sketch's lang list
    "kmv_intersect", "kmv_difference",
    // 1-row corpus-count broadcast (the TF-IDF N normalizer / BM25
    // N+avgdl normalizer / the RRF sides' query broadcasts)
    "index_topk", "index_topk_batch", "bm25_topk", "hybrid_rrf",
    "ranker_agreement", "rbo_overlap",
    // 1-row total-occurrence broadcast next to the head sums
    "zipf_fit",
    // 1-row vocabulary-size broadcast (the Laplace smoothing denominator)
    // resp. the 1-row bigram-types total (the continuation normalizer)
    "lm_bigram", "lm_kneser_ney", "lm_trigram",
    // 1-row centroid + 1-row mean/variance normalizer broadcasts
    "emb_outliers",
    // 1-row per-side max-normalizer broadcasts (one per HITS half-round)
    "graph_hits",
    // 1-row token-total and bigram-total normalizer broadcasts
    "collocations",
    // 1-row feature-total normalizer broadcast (the model denominators)
    "dsir_weights",
    // 1-row label-total normalizer broadcast (the classifier denominators)
    "quality_classifier",
    // same classifier chain inside the calibration / correlation audits
    // and the RRF ensemble (plus its 1-row token-total broadcast)
    "calib_bins", "signal_corr", "quality_fusion",
    // same classifier chain inside the AUC / gate-agreement / label-noise
    // audits
    "classifier_auc", "gate_kappa", "label_noise",
    // 8-row anchor-panel broadcast (the simTopKBatch pattern)
    "hard_negatives",
    // #domains-row all-pairs grid (source < source_b) + 1-row summary
    // crossJoins — every frame bounded by the domain count
    "pref_cycles",
    // the Lloyd centroid-bundle broadcast + the 8-row centroid frame
    "cluster_silhouette",
    // calendar-sized day-spine broadcast against user-days (the range
    // join has no equi key by construction; both sides calendar/user-
    // day-bounded, never raw event volume)
    "rolling_distinct")

  /** Count of window specs with an EMPTY partition clause in a FORMATTED
    * explain — `windowspecdefinition(<order> ASC ...)` with no leading
    * partition columns. A partition-less window over a corpus-sized input
    * is a single-task global sort at 100 TB; the only legitimate uses are
    * numbering a bounded post-limit frame (top-k reranks, <=#bins sketch
    * estimates). Shared by the CI gate (PlanAuditSpec) and the dev dump.
    */
  def unpartitionedWindowCount(plan: String): Int =
    """windowspecdefinition\([^,()]+ (?:ASC|DESC)""".r.findAllIn(plan).size

  /** The queries whose partition-less windows are documented bounded
    * frames — every one numbers a <= top-k / <= #bins / <= #langs
    * post-limit result, never a corpus-sized input — each with its
    * documented input-row ceiling (round 16, VERDICT r15 #8): the bound
    * on the LARGEST partition-less window input in its plan,
    * volume-independent by construction — a post-limit top-k constant, a
    * #shards/#bins/#cells offsets table, or a calendar spine; NEVER a
    * corpus-sized frame. A NEW query planning a partition-less window
    * fails PlanAuditSpec unless deliberately added here; at runtime the
    * spec also checks every partition-less WindowExec's measured row
    * count against the ceiling — so each "Moving all data to a single
    * partition" warning at entry is attributable to a named,
    * proven-bounded frame.
    */
  val unpartitionedWindowBounds: Map[String, Long] = Map(
    // #shards-row (resp. #buckets-row) offsets prefix-sum tables — the
    // tiny second level of the two-level sharded cumsum
    "assign_ids" -> 4096L, "curriculum" -> 4096L,
    // <= #bins merged-sketch estimate windows
    "hist_quantiles" -> 512L,
    // the 32-row post-agg resample-mean rank (the offsets-table class)
    "bootstrap_ci" -> 64L,
    // <= k-row post-TakeOrdered rerank/numbering (k = 10..20)
    "sim_topk" -> 64L, "sim_topk_ivf" -> 64L, "sim_topk_lsh" -> 64L,
    "sim_topk_kmeans" -> 64L, "sim_topk_q8" -> 64L, "pq_topk" -> 64L,
    "pq_recall" -> 64L, "lsh_store" -> 64L, "pq_store" -> 64L,
    "sim_topk_ivfpq" -> 64L, "ivfpq_store" -> 64L,
    "sim_topk_filtered" -> 64L, "lsh_store_filtered" -> 64L,
    "ivfpq_store_filtered" -> 64L,
    // post-limit rank windows of the composed RAG chain: seeds
    // (<= NSeeds=4), candidate sides (<= KEach=20), fused (<= 2*KEach);
    // the persisted chain probe numbers the same post-limit frames, and
    // the filtered probe the same single-query ones (textRankQ9 /
    // vecRank / finalProjection)
    "retrieval_program" -> 64L, "retrieval_funnel" -> 64L,
    "retrieval_store" -> 64L, "retrieval_store_filtered" -> 64L,
    // <= 2k-row fused / paired ranker frames: post-TakeOrdered rank
    // windows on both RRF sides (<= kEach rows each) and rank numbering
    // on both ranker sides (<= k rows each)
    "hybrid_rrf" -> 64L, "ranker_agreement" -> 64L, "rbo_overlap" -> 64L,
    // ZipfTopN = 256 post-TakeOrdered numbering
    "zipf_fit" -> 512L,
    // calendar spine: rows = distinct users x span days of the fixture
    // window (volume changes add events per day, not days) — the
    // dense-spine moving window IS the operator
    "resample_daily" -> 16384L,
    // #sources-row supply frame (fenced): the rank + prefix-sum windows
    // of the exact water-filling level search — the assign_ids
    // offsets-table class
    "budget_waterfill" -> 1024L,
    // #(lang, source)-cells fenced frame: the largest-remainder rank
    // window (the budget_waterfill class); eval_sample plans the same
    // subtree
    "eval_alloc" -> 4096L, "eval_sample" -> 4096L)

  /** Count of window specs PARTITIONED on a token/gram-like column — the
    * skew-unbounded funnel pattern of round 9's systemic finding: a window
    * partitioned by a token-ish key over exploded occurrence rows sends
    * every occurrence of that key to ONE task (WindowExec has no partial
    * aggregation and AQE cannot split a window partition), so at 100 TB a
    * stopword's partition processes that token's entire global stream.
    * The scale-safe form is a map-side-combined `groupBy(key).count()`
    * joined back (AQE-skew-splittable) — the lm_kneser_ney continuation-
    * count discipline, now applied to the whole lm/quality family.
    *
    * Parses partition columns out of `windowspecdefinition(part..., ord
    * ASC/DESC..., specifiedwindowframe(...))`: everything before the first
    * ordered arg (or the frame spec when there is no ordering).
    */
  def tokenKeyedWindowCount(plan: String): Int = {
    val marker = "windowspecdefinition("
    var idx = plan.indexOf(marker)
    var n = 0
    while (idx >= 0) {
      val start = idx + marker.length
      val rest = plan.substring(start, math.min(plan.length, start + 600))
      val cutAsc = Seq(rest.indexOf(" ASC"), rest.indexOf(" DESC"))
        .filter(_ >= 0).sorted.headOption.getOrElse(-1)
      val cutFrame = rest.indexOf("specifiedwindowframe")
      val partitionCols: Seq[String] =
        if (cutFrame >= 0 && (cutAsc < 0 || cutFrame < cutAsc))
          rest.substring(0, cutFrame).split(",").toSeq
        else if (cutAsc >= 0)
          // the last comma-separated arg before " ASC"/" DESC" is the
          // first ORDER column, not a partition column
          rest.substring(0, cutAsc).split(",").toSeq.dropRight(1)
        else Seq.empty
      if (partitionCols.exists(c => tokenishRef.findFirstIn(c).isDefined))
        n += 1
      idx = plan.indexOf(marker, start)
    }
    n
  }

  /** A plan attribute reference whose NAME marks an exploded-occurrence
    * key: raw tokens, n-gram legs, grams/shingles/fingerprints, terms,
    * tokenizer words/pieces. Anchored so `doc_id#3` inside a nested
    * expression cannot match.
    */
  private val tokenishRef =
    """(?:^|[\s(,])(?:token|nxt|w1|w2|w3|gram|shingle|fingerprint|term|piece|word)#\d+""".r

  /** Count of SORT windows partitioned by a single stratum-key column
    * alone (lang/source/kind/label/split/event_type) — the sample_fixed_k
    * class of round 10's last perf-weak finding: `row_number()/rank()/
    * running-sum OVER (PARTITION BY lang ORDER BY ...)` on a doc-sized
    * frame funnels the dominant language's ENTIRE document set through
    * one window task at 10⁹ docs (WindowExec has no partial aggregation
    * and AQE cannot split a window partition). The scale-safe form is the
    * two-level machinery ([[graft.operators.TextPipeline]]'s rankPerKey /
    * firstKPerKey / sharded cumsum), whose only key-alone windows run
    * over the TINY per-(key, bucket) offsets table and are recognizable
    * by their `_rb`/`shard` leading order column — those are excluded
    * here, so this counts exactly the corpus-sized offenders.
    */
  def stratumKeyedSortWindowCount(plan: String): Int = {
    val marker = "windowspecdefinition("
    var idx = plan.indexOf(marker)
    var n = 0
    while (idx >= 0) {
      val start = idx + marker.length
      val rest = plan.substring(start, math.min(plan.length, start + 600))
      val cutAsc = Seq(rest.indexOf(" ASC"), rest.indexOf(" DESC"))
        .filter(_ >= 0).sorted.headOption.getOrElse(-1)
      if (cutAsc >= 0) { // sort window (an order clause exists)
        val head = rest.substring(0, cutAsc).split(",").toSeq
        val partitionCols = head.dropRight(1).map(_.trim)
        val firstOrderCol = head.last.trim
        val boundedOffsetsOrder =
          firstOrderCol.startsWith("_rb#") || firstOrderCol.startsWith("shard#") ||
            firstOrderCol.startsWith("_sh#") // Preference.withNext's shard-firsts lead
        if (partitionCols.size == 1 &&
          stratumRef.findFirstIn(partitionCols.head).isDefined &&
          !boundedOffsetsOrder)
          n += 1
      }
      idx = plan.indexOf(marker, start)
    }
    n
  }

  /** A plan attribute reference whose NAME marks a low-cardinality
    * stratum key — the partition keys whose single-key windows serialize
    * a whole stratum into one task. Anchored like [[tokenishRef]].
    */
  private val stratumRef =
    """^(?:lang|source|kind|label|split|event_type)#\d+""".r

  /** Queries whose single-stratum-key sort window is PROVABLY bounded —
    * each runs over a frame whose per-key row count is independent of
    * corpus volume (post-shard survivor frames, dim-sized spectra,
    * calendar-sized spines). A NEW query planning a stratum-keyed sort
    * window over corpus-sized input fails PlanAuditSpec unless its bound
    * is documented here.
    */
  val stratumWindowWhitelist: Map[String, String] = Map(
    "weighted_sample" ->
      "phase-2 rank over the #shards x k shard-winner survivor frame",
    "emb_eff_rank" ->
      "per-label eigenspectrum windows over 64 dim-sized rows per label",
    "metric_anomaly" ->
      ("event_type window over per-minute maxes: rows = calendar minutes," +
        " volume-independent"),
    "hc_alarm_m_of_n" ->
      ("per-stream minute windows over the 1-min tumbling maxes: rows =" +
        " calendar minutes (the reference's M-of-N evaluation frame)"),
    "hc_alarm_transitions" ->
      "same calendar-minute frame as hc_alarm_m_of_n",
    "hc_alarm_adaptive" ->
      "same calendar-minute frame + the baseline pass over observed maxes",
    "f2_moment" ->
      "per-lang median window over the 4 sign-sketch row estimates",
    "kmv_distinct" ->
      "phase-2 bottom-k over the #shards x k shard-survivor frame")

  /** Queries whose token-keyed window partition is PROVABLY bounded —
    * today only inverted_index: its `term` window runs over the (term,
    * shard) postings frame, at most `NShards` rows per partition at any
    * corpus size (Retrieval.invertedIndexFrom). Any OTHER query planning
    * a token-keyed window fails PlanAuditSpec.
    */
  val tokenWindowWhitelist: Set[String] = Set("inverted_index")

  /** Shuffle-exchange count from a FORMATTED explain — detail-section
    * headers like `(5) Exchange`, one per real exchange node. ReusedExchange
    * deliberately not counted (it IS the optimization). The single
    * definition shared by the CI gate (PlanAuditSpec), the dev dump below,
    * and Bench's per-query plan telemetry.
    */
  def exchangeCount(plan: String): Int =
    "(?m)^\\(\\d+\\) Exchange".r.findAllIn(plan).size

  /** Exchange ceilings per query — the plan-shape budget. A regression that
    * re-introduces a fence shuffle, a regroup inflation, or an extra join
    * shuffle breaks the CI gate; Bench writes the measured counts next to
    * seconds in bench_out.json so the driver's BENCH_r{N} history shows a
    * plan regression even when timing noise hides it. One source: the spec,
    * the bench telemetry, and the dev dump cannot drift apart.
    *
    * Calibrated against the current plans at sf0.001 planning time (AQE
    * broadcasts MORE at smaller SFs, so these are safe upper bounds).
    */
  val exchangeCeilings: Map[String, Int] = Map(
    "text_fingerprint" -> 1, // the final orderBy only
    "dedup_exact" -> 2,
    "dedup_simhash" -> 6,
    "dedup_minhash" -> 10,
    // 4 banded self-joins (one per grid config; measured FASTER than a
    // fused tagged join — same total shuffle bytes, narrower rows) + the
    // distinct-pair verify joins + the per-config agg + the 1-row n_true
    // broadcast + orderBy; signature and candidates are checkpointed
    "minhash_tune" -> 16,
    // same grid shape over the hyperplane bits: 4 banded self-joins +
    // distinct-pair cosine verify + per-config agg + 1-row n_true +
    // orderBy; signature and candidates checkpointed
    "sim_recall_tune" -> 16,
    // the dedup_minhash blocking + two doc-keyed text joins + orderBy
    "dedup_edit" -> 12,
    // one digest-keyed full outer join + orderBy (digests computed in
    // the scan projection; union adds the re-fetch branch's scan)
    "corpus_diff" -> 4,
    // one (doc,bucket)-keyed agg + the doc-keyed <=64-row norm window +
    // orderBy
    "text_hash_embed" -> 3,
    // distinct-gram agg + hash-keyed first-doc agg/join + per-doc agg +
    // orderBy (the lm_kneser_ney re-derive class)
    "ngram_novelty" -> 7,
    "dedup_jaccard" -> 10,
    // representatives behind one Fence: the band shuffle of each
    // self-join side (one reused exchange at run time) + the distinct-pair
    // agg + orderBy
    "dedup_pipeline" -> 4,
    "emb_neardup" -> 10,
    "sim_topk" -> 1, // TakeOrdered, no global sort
    "sim_topk_ivf" -> 4,
    // centroid agg + probe TakeOrdered + pruned-scan TakeOrdered +
    // k-row rerank + orderBy (codebooks trained eagerly, bounded)
    "sim_topk_ivfpq" -> 5,
    // centroid agg + probe window + two q_id rank windows (the second
    // reuses the first's partitioning) + orderBy
    "sim_topk_ivfpq_batch" -> 8,
    // stored-centroid probe TakeOrdered + pruned codes TakeOrdered +
    // candidate rejoin + rerank + orderBy (build behind the session cache)
    "ivfpq_store" -> 6,
    // same probe shape with the pushed range predicate (no new exchange)
    "ivfpq_store_filtered" -> 6,
    // band-signature distinct + candidate semi-join + exact-set audit join
    "sim_topk_lsh" -> 4,
    // batch shape: candidate distinct + per-query rank windows (probe +
    // audit sides) + candidate join + orderBy
    "sim_topk_lsh_batch" -> 6,
    // the persisted store's batch probe: bucket-segment scan + candidate
    // distinct + per-query rank windows (probe + audit) + joins + orderBy
    "lsh_store_batch" -> 8,
    // per-config candidate distinct + 1-row agg behind the fenced sign
    // pass; 3-row union orderBy
    "lsh_recall_grid" -> 8,
    // persisted-store probe: (band, pfx)-pruned bucket scan distinct +
    // candidate join + exact-audit TakeOrdered join + orderBy;
    // build/append run behind the session cache
    "lsh_store" -> 4,
    // filtered probe: same shape with the label predicate pushed into
    // the verify + audit scans (no extra exchange for the filter)
    "lsh_store_filtered" -> 4,
    // filtered IVF probe: widened centroid TakeOrdered + pushed-filter
    // stage-1 TakeOrdered + candidate rejoin + rerank + orderBy
    "sim_topk_filtered" -> 6,
    // the composed RAG chain: every stage behind a fence, the probe
    // result is a tiny-frame fusion (measured 1)
    "retrieval_program" -> 4,
    // funnel counts re-reference the fenced stage frames; each count is
    // a bounded agg over a fence (measured 12)
    "retrieval_funnel" -> 16,
    // persisted-chain probe: pruned postings/chunkmeta scans feed the
    // text rank, probed-partition vector scans feed the cosine rank,
    // tiny-frame fusion; store build/append run behind the session cache
    "retrieval_store" -> 10,
    // scorecard: one union-term tf shuffle behind the fenced scored
    // frame + the two-phase rank windows + three per-query joins
    "retrieval_ndcg" -> 12,
    // five per-artifact aggs over pruned store scans + the union/orderBy
    "retrieval_store_stats" -> 14,
    // batched panel probe: union-pruned postings tf shuffle + df branch
    // + the per-(query,chunk) text agg, probed-partition vector scans +
    // the per-(query,chunk) dot agg, two-phase windows, tiny fusion
    "retrieval_store_batch" -> 6, // measured 1 (fenced stages)
    // four ranker top-k plans (panel tf shuffles, store probe, index
    // probe) + the fenced qrels + the scoring joins — measured, then
    // pinned with headroom
    "retrieval_ndcg_rankers" -> 10, // measured 7 (fenced rankings leaf)
    // filtered probe: the retrieval_store shape with range-pushed scans
    "retrieval_store_filtered" -> 6, // measured 1 (fenced stages)
    // drift gate: two release-segment scans joined + orderBy (the
    // scorecards were persisted at session-store build time)
    "scorecard_drift" -> 4, // measured 3
    // batched filtered probes: panel broadcasts + per-query rank
    // windows (q_id-keyed) + the stage-2 rejoin + orderBy
    "sim_topk_filtered_batch" -> 8,
    "lsh_store_filtered_batch" -> 8,
    "emb_centroid_stats" -> 2,
    // tf shuffle + the df keyed-agg branch (re-derives tf's stage; AQE
    // stage reuse dedups at runtime) + the token join + orderBy
    "text_tfidf" -> 5,
    "decontaminate" -> 3, // fingerprint agg + per-doc count + orderBy
    "sim_topk_batch" -> 2, // per-query window + orderBy; probe broadcast
    // anchor-panel broadcast + (q_id, same) window + per-anchor agg + orderBy
    "hard_negatives" -> 4,
    "corpus_sample" -> 1, // stateless filter; orderBy only
    "salted_counts" -> 3, // two-phase salted agg + orderBy
    "stats_quantiles" -> 2,
    "media_resize" -> 1, // stateless projection; orderBy only
    "ngram_counts" -> 2,
    "dedup_report" -> 2, // digest agg + 1-row rollup
    "emb_normalize" -> 1, // stateless projection + explode; orderBy only
    "seq_len_buckets" -> 2,
    // the relational/pipeline batch, calibrated at sf0.01 (AQE broadcasts
    // MORE at smaller SFs, so these are safe upper bounds)
    "q4_priority" -> 2, // semi-join + priority agg
    "q7_volume" -> 2, // nation dims broadcast; l-o join + group
    "q13_custdist" -> 3, // outer join + two chained aggs
    "q15_top_supplier" -> 4, // rev agg + max + supplier join + orderBy
    "q17_small_qty" -> 2, // per-part cut agg reuses the join exchange
    "q19_disjunct" -> 1, // part join; single-row final agg
    "q22_idle" -> 3, // avg broadcast + anti-join + segment agg
    "ship_delay" -> 2, // o-l join + priority agg
    "stratified_sample" -> 1, // stateless filter; orderBy only
    // two-level prefix sum: ONE corpus-sized exchange (the (lang, shard)
    // cumsum window's); the other four move #shards/#chunks rows — the
    // map-side-combined shard-total agg, the per-lang offset prefix window,
    // the chunk agg, and the orderBy
    "pack_chunks" -> 5,
    // BPE-denominated twins: + the distinct-word agg feeding the broadcast
    // vocab (ReusedExchange at runtime) and the per-doc count agg — which,
    // like the rest of the prefix-sum family, the offsets branch re-derives
    // from the scan rather than sharing the window branch's exchange (the
    // documented assignIds trade; the count agg is map-side combined, so a
    // doc's exploded tokens collapse to one row before each shuffle)
    "token_budget_bpe" -> 8,
    "pack_chunks_bpe" -> 9,
    "rep_stats" -> 1, // stateless in-expression sort/count; orderBy only
    "bpe_stats" -> 3, // distinct-word agg + map-side-combined lang rollup
    // post-checkpoint plan: cluster-keyed self-join + dup distinct +
    // vec_id left join + orderBy (Lloyd lives behind the checkpoint leaf)
    "semantic_dedup" -> 6,
    "media_shards" -> 5, // the packChunks budget, byte-denominated
    "pii_scrub" -> 1, // stateless regexp projection; orderBy only
    "split_by_source" -> 1, // stateless group-hash projection
    // post-checkpoint plan: label left-join + bucket + orderBy (the CC
    // loop lives behind the checkpoint leaves, as in dedup_clusters)
    "split_leakage_safe" -> 3,
    "pack_manifest" -> 4, // pack_chunks minus the summary agg
    // Completeness batch (round 6): every remaining query pinned at its
    // measured sf0.001 planning-time count, so ANY new exchange in ANY
    // query fails CI (PlanAuditSpec also asserts the table covers every
    // SparkEntry query)
    "asof_join" -> 2, "bpe_merges" -> 1, "corpus_stats" -> 2,
    "dedup_incremental" -> 8, "except_users" -> 3,
    "hc_alarm_m_of_n" -> 5, "hc_alarm_transitions" -> 5,
    // + the baseline window pass over the observed-minute maxes
    "hc_alarm_adaptive" -> 6,
    "hc_arn_parse" -> 1, "hc_decode_extract" -> 1, "hc_first_record" -> 2,
    "hc_gap_detect" -> 4, "hc_latency_arrival" -> 2,
    "hc_latency_event_time" -> 2, "hc_metric_projection" -> 1,
    "hc_threshold_filter" -> 1, "hc_tracer_encode" -> 1,
    "hc_window_max" -> 2, "media_frame_sample" -> 1, "media_meta" -> 1,
    // stateless expression parse (the JPEG walk is one codegen'd fold)
    "media_jpeg_meta" -> 1,
    // scan -> encode mapPartitions -> decode mapPartitions -> orderBy
    "media_png_features" -> 1,
    // stateless expression parse (box walk is a codegen'd fold) + orderBy
    "media_mp4_meta" -> 1,
    // stateless expression parse (ID3 skip + frame walk, one fold) + orderBy
    "media_mp3_meta" -> 1,
    // stateless expression parses (ADTS / AVCC NAL walks) + orderBy
    "media_aac_meta" -> 1,
    "media_h264_meta" -> 1,
    // scan -> container-build expressions -> JDK WAV decode mapPartitions
    "media_wav_features" -> 1,
    "pivot_hourly" -> 3, "q10_returns" -> 1, "q14_promo" -> 1,
    "q18_big_orders" -> 1, "q1_agg" -> 2, "q1_rollup" -> 2,
    "q3_topk" -> 1, "q5_join" -> 2, "q6_filter" -> 1, "range_join" -> 2,
    "semi_join" -> 1, "sessionize" -> 2, "text_normalize" -> 1,
    // user window + (user, session) windows/agg + orderBy
    "sft_pack" -> 3,
    "text_quality" -> 1, "text_stats" -> 1, "text_vocab" -> 2,
    "window_rank" -> 2,
    // TPC-H completion batch; the scalar-subquery shapes (q2, q11) plan
    // their shared subtree twice but AQE stage-reuse dedups it at runtime
    "q2_min_cost" -> 6,
    "q8_market_share" -> 2,
    "q9_profit" -> 2,
    "q11_important_part" -> 8,
    "q16_supplier_count" -> 3,
    "q20_excess" -> 2,
    "q21_waiting" -> 5,
    // training-pipeline batch: digest agg / broadcast-weights filter /
    // per-shard window / stateless split
    "media_dedup" -> 3,
    // round 10: both consume the SHARED cluster-label leaf
    // (TextPipeline.sharedClusterLabels, built once per session — the
    // Graph.sharedEdges recipe); returned plans are leaf + orderBy resp.
    // leaf + quality join + cluster window + orderBy
    "dedup_clusters" -> 1,
    "canonical_select" -> 2,
    "mixture_sample" -> 2,
    "corpus_shuffle" -> 2,
    "split_train" -> 1,
    // window/set/sketch batch
    "window_lag" -> 2, // one keyed window + orderBy
    "window_moving_avg" -> 2, // one keyed range-frame window + orderBy
    // daily agg + the calendar-spine join/window + orderBy (spine rows =
    // span days, volume-independent)
    "resample_daily" -> 5,
    "except_all_users" -> 3, // count-diff shuffle + regroup + orderBy
    "window_pct" -> 2, // one keyed window + orderBy
    "window_first_last" -> 2, // one keyed unbounded-frame window + orderBy
    "q1_cube" -> 2, // expand + partial agg; lattice is tiny
    "intersect_users" -> 3, // two distinct sides + semi-join
    "heavy_hitters" -> 4, // token agg + 1-row total broadcast + orderBy
    "corpus_distinct" -> 3,
    "chunk_sliding" -> 1, // native one-pass expression; orderBy only
    "text_lang_id" -> 1, // native one-pass expression; orderBy only
    "emb_clusters" -> 3, // post-checkpoint window + orderBy
    // Lloyd's: per-row native argmin against broadcast centroids — the only
    // corpus-keyed shuffle-free path; exchanges are the two tiny centroid
    // bundle aggs, the k-row update agg, and the orderBy
    "emb_kmeans" -> 4,
    "sim_topk_kmeans" -> 5, // + the nprobe centroid ranking
    // the Lloyd bundle aggs + per-vec a/b agg + per-cluster agg + orderBy
    "cluster_silhouette" -> 8,
    // ONE keyed moment agg + orderBy (the pairwise identity, no join)
    "emb_diversity" -> 2,
    // (label,pos) agg + label window + label agg + orderBy
    "emb_eff_rank" -> 4,
    "assign_ids" -> 4, // shard agg + offsets + per-shard window + orderBy
    // the domain_cap firstKPerKey shape: shard-count agg + offsets
    // prefix + pruned (lang, shard) window + orderBy
    "sample_fixed_k" -> 4,
    "unpivot_stats" -> 2, // stateless explode; orderBy only
    // round-5 corpus-curation batch
    "domain_cap" -> 4, // shard-count agg + offsets prefix + pruned window + orderBy
    // the 5-row per-lang count subtree plans under both the weights side
    // and the 1-row normalizer side (4 exchanges total) — every one of
    // them moves #langs rows, nothing corpus-sized
    "lang_temperature" -> 4,
    "boilerplate_ngrams" -> 3, // gram window + per-doc agg + orderBy
    // bucket agg + offsets prefix + per-bucket window + orderBy, with the
    // 21-row bucket-count subtree planned again under the 1-row total —
    // only the window and orderBy move corpus-sized data
    "curriculum" -> 6,
    "token_budget_sample" -> 4, // shard-token agg + offsets + pruned window + orderBy
    "emb_quantize" -> 1, // stateless projection + explode; orderBy only
    // TakeOrdered stage-1 (no global sort) + k-row rerank window + orderBy
    "sim_topk_q8" -> 3,
    // eval-side agg + bloom build + survivor distinct + final join/agg;
    // the corpus-sized fingerprint shuffle of plain decontaminate is GONE
    "decontaminate_bloom" -> 6,
    // vocab-sized freq agg + the token join-back + per-doc regroup +
    // orderBy (1-row total broadcasts) — the occurrence rows shuffle
    // once, never through a token-keyed window partition
    "lm_perplexity" -> 4,
    // freq agg + occurrence join-back + doc-keyed rank window + the
    // per-doc sizes agg/join + final agg + orderBy
    "mink_contamination" -> 9,
    // (doc,bucket) agg + id equi-join + per-doc agg + norm join + orderBy
    "pair_alignment" -> 8,
    // 5 unrolled power-iteration rounds over checkpointed edge/degree
    // leaves; the edges leaf is pre-partitioned by src (AQE-off
    // checkpoint) so the contribution joins plan NO edge re-shuffle —
    // the remaining exchanges are the per-round dst-keyed contribution
    // aggs and the final orderBy, rank frame node-sized throughout
    "graph_pagerank" -> 7,
    "graph_ppr" -> 7, // same unrolled loop, seed-masked teleport
    // 3 unrolled LPA rounds over the pre-partitioned edges leaf: per
    // round a (dst,label) count agg + the degree-bounded argmax window;
    // + the community-size window and orderBy
    "graph_lpa" -> 9,
    // two 1-row normalizer aggs (centroid, mean/variance) + the final
    // orderBy; distances are a stateless projection, zero corpus shuffles
    "emb_outliers" -> 4,
    // per power-iteration round: one VecSumAgg partial+final pair over
    // the fenced centered frame (1-row driver traffic each); + the mean
    // agg and the 64-row output sort
    "emb_pca_power" -> 12,
    // the power-iteration constants + one stateless projection + orderBy
    "emb_pca_project" -> 13,
    // the lm_perplexity family one order up: the per-doc lead window +
    // ONE (token,nxt)-keyed types agg (c_prefix derives from it — the
    // derived branches re-plan the types stage, AQE stage reuse dedups
    // at runtime), the type-sized enrich join, the single occurrence
    // join-back, per-doc fold agg, orderBy, 1-row vocab broadcast
    "lm_bigram" -> 10,
    // lm_bigram + the continuation statistics: n1_fwd/n1_bwd/types all
    // derive from the SAME bigram-types frame (each consumer re-plans
    // the types stage — the assignIds re-derive trade, runtime-deduped),
    // enriched type-side joins, ONE occurrence join-back, 1-row types
    // broadcast
    "lm_kneser_ney" -> 17,
    // lm_bigram one order up: two doc lead windows + ONE trigram-types
    // agg with all four lower orders derived from it (re-planned
    // round 16: occurrence + trigram-type frames fenced (were re-planned
    // 3x/5x — 19 exchanges); now the 4 type-sized re-aggs, the enrich
    // joins, the one occurrence join-back, and the per-doc fold
    "lm_trigram" -> 8,
    // mergeable histogram: per-source shard agg (map-side combined) +
    // the bin merge agg + the sketch-sized estimate windows/orderBy
    "hist_quantiles" -> 3,
    // document-partitioned postings: tf agg + (term,shard) agg + the
    // bounded (<= nShards rows/term) stats window + orderBy; single scan
    "inverted_index" -> 4,
    // query-term tf agg + the vocab-sized df agg (re-derives the filtered
    // scan; ReusedExchange at runtime) + per-doc score agg; top-k is a
    // TakeOrdered, df/N are broadcasts
    "index_topk" -> 5,
    // + the two-phase (query,shard) -> query ranking windows over
    // broadcast-joined scores; survivors are <= k x nShards per query
    "index_topk_batch" -> 8,
    // the index_topk shape with the dl-carrying tf agg and the 1-row
    // N/avgdl normalizer
    "bm25_topk" -> 5,
    // persisted-index BM25: segment-filtered postings explode + df agg +
    // doclens join + per-doc agg + TakeOrdered (build behind the cache)
    "bm25_store" -> 5,
    // two TakeOrdered sides + the <= kEach-row fusion join/orderBy
    "hybrid_rrf" -> 10,
    // validation gates: one wide agg each (+ tiny unpivot/orderBy); drift
    // adds the 5-row lang join and its share windows
    "data_profile" -> 3,
    "quality_checks" -> 3,
    "dist_drift" -> 7,
    // recall telemetry: the only corpus-sized exchanges are the stage-1
    // candidate window (cluster-pruned x |nprobes|) and the brute-force
    // truth window (the simTopKBatch shape); the other 15 move
    // survivor-/grid-/centroid-sized rows (panel windows, hit aggs, the
    // cells lattice joins, final orderBy)
    "ann_recall_grid" -> 17,
    // HLL sketch: the (lang, register) agg is map-side combined (<= 256
    // rows per lang per partition shuffle), then a #langs-row rollup, the
    // exact-distinct calibration agg, its join, and the orderBy
    "hll_distinct" -> 5,
    // temperatureSample = the domainCap shard-pruned two-level machinery
    // + the two tiny weights aggs (count, 1-row normalizer) + orderBy
    "temperature_sample" -> 7,
    // two per-shard register aggs + the merged register agg + the
    // #langs-row estimate rollup; every shuffle moves <= #langs x 256 rows
    "hll_union" -> 4,
    // d*w-cell sketch agg, exact top-20 agg, the post-broadcast-join
    // min-agg, and the 20-row orderBy
    "cms_freq" -> 4,
    // the (lang, shard) phase-1 window, the survivor-frame (#shards x k)
    // phase-2 window, the k-per-lang orderBy — the corpus shuffles once
    "weighted_sample" -> 3,
    // distinct-(lang,shard,h) agg, two bottom-k windows (shard then
    // survivor frame), the #langs-row estimate agg, the exact
    // calibration agg + its join/orderBy
    "kmv_distinct" -> 6,
    // everything corpus-sized lives behind the two checkpoint fences
    // (sketch frame, distinct-token frame); the 15 exchanges move
    // sketch-/pair-/vocab-sized rows (union-distinct, pair window,
    // theta agg, common join, exact self-join, final joins/orderBy)
    "kmv_intersect" -> 15,
    // shingle-hash agg + occurrence join + doc-keyed island window/agg
    // + orderBy; text re-scans are bounded (2 resp. 4 pruned scans —
    // scan-twice beats shuffle-twice), every join keyed
    "dup_spans" -> 3,
    "substring_dedup" -> 4,
    // train-distinct agg + semi-join + per-doc hit agg + totals join +
    // orderBy; two pruned text scans
    "overlap_report" -> 5,
    // post-fence: the corpus never re-plans (ONE text scan behind the
    // manifest checkpoint, dedup/cap outputs fenced too); the exchanges
    // move doc-/shard-table-sized rows through the budget machinery, the
    // stage join, and the orderBy
    "curation_program" -> 6,
    // the persisted store round-trip: the build runs eagerly behind the
    // session cache; the RETURNED plan is the manifest parquet scan (the
    // hive split partitions) + orderBy
    "curation_store" -> 2,
    // same returned plan; the build+delta fold runs behind the cache
    "curation_store_delta" -> 2,
    // same returned plan; the build + forget rewrite run behind the cache
    "curation_forget" -> 2,
    // two version-pruned manifest scans anti-joined both ways + orderBy
    "curation_diff" -> 2,
    // interchange round trips: the countDistinct profile plans the
    // two-phase distinct agg (partial + distinct exchanges) + orderBy;
    // the format write runs behind the session cache
    "jsonl_roundtrip" -> 3,
    "csv_roundtrip" -> 3,
    "orc_roundtrip" -> 3,
    // + the five fenced-frame aggs and the 5-row union/orderBy
    "curation_funnel" -> 10,
    // divergence localizer (temporary, round-8): nine single-row digest
    // aggs over the fenced manifest (2 exchanges each: partial+final over
    // a 163-row frame) + the 9-row union orderBy
    "curation_cols" -> 24,
    // training runs eagerly inside the query builder (fenced words leaf,
    // piece-table-sized round jobs); the RETURNED plan is a driver-local
    // vocab toDF + orderBy
    "unigram_vocab" -> 2,
    // corpus occurrence scan + two broadcast word-lookup joins + the
    // per-lang agg + orderBy (the bpe_stats shape)
    "unigram_coverage" -> 5,
    // 4 unrolled HITS rounds over the two pre-partitioned edge leaves:
    // per round the dst-keyed authority sum + src-keyed hub sum (each
    // rides a leaf partitioning on the join side) and two 1-row max
    // normalizer aggs; + the init distinct and the final union orderBy
    "graph_hits" -> 20,
    // CC runs eagerly in the builder (checkpointed rounds); the RETURNED
    // plan is the final label leaf + component-size window + orderBy,
    // plus the thresholded pair-agg chain feeding the first round
    "graph_components" -> 6,
    // the d×w sketch agg runs eagerly (bounded collect); the returned
    // plan is scan + map-side prefilter + candidate agg + orderBy
    "heavy_hitters_cms" -> 4,
    // codebook training runs eagerly (bounded collects); the returned
    // plan is scan × 1-row broadcast → TakeOrdered → k-row rerank
    "pq_topk" -> 3,
    // persisted-PQ decode probe: stage-1 codes scan + TakeOrdered +
    // candidate rejoin + rerank (build/train behind the session cache)
    "pq_store" -> 3,
    // 4 subspace-encode branches of one scan → union → agg + orderBy
    "pq_recon_error" -> 5,
    // the pq_topk subplan + the exact TakeOrdered side + k-row join + agg
    "pq_recall" -> 6,
    "mrl_recall" -> 10,
    // word-freq agg + the BPE distinct-words join + two 1-row aggs +
    // the 2-row union orderBy
    "tokenizer_fertility" -> 10,
    // the loss measurement runs eagerly inside the builder (one corpus
    // pass, #domains-row collect); the RETURNED plan is a driver-local
    // toDF + orderBy
    "domain_reweight" -> 1,
    // post-fence (round 10): the token pipeline (ONE (lang,token)-keyed
    // agg, type-frame enrich, single occurrence join-back, per-doc agg)
    // runs eagerly behind the doc-sized leaf; the returned plan is the
    // shard-pruned firstKPerKey top-k + orderBy
    "excess_loss_select" -> 4,
    "fim_split" -> 1,
    // comparison derivation runs eagerly (quality scan + per-lang window
    // + domains²-bounded collects); the RETURNED plan is toDF + orderBy
    "bt_ratings" -> 1,
    "elo_ratings" -> 7,
    // comparison window + two win-matrix aggs + distinct + pair/triad
    // joins over the checkpointed #domains² grid + summary crossJoins
    "pref_cycles" -> 12,
    // minute max agg + the calendar-sized event_type window + orderBy
    "metric_anomaly" -> 3,
    // token agg + bigram agg (each map-side combined) + the two
    // vocab-sized marginal joins + 1-row totals + final ordering
    "collocations" -> 10,
    // (doc, token) agg + per-doc fold agg + orderBy
    "text_entropy" -> 3,
    // bucket-model agg (+ its totals re-derive) + the broadcast model
    // join + per-doc fold agg + orderBy; the model frame is <= 4096 rows
    "dsir_weights" -> 8,
    // same shape with unigram features: bucket-model agg + totals
    // re-derive + broadcast model join + per-doc fold agg + orderBy
    "quality_classifier" -> 8,
    // post-fence plans (round 10): the classifier/LM chains run eagerly
    // behind doc-sized text-free localCheckpoint leaves; the returned
    // plans are the two-level rank machinery over those leaves —
    // bucket-offsets agg + broadcast join + (lang, bucket) window (+
    // firstKPerKey prune / closed-form ntile) + orderBy
    "calib_bins" -> 6,
    "signal_corr" -> 12,
    "quality_fusion" -> 4,
    "classifier_auc" -> 5,
    // classifier chain + heuristic projection join + per-lang agg + orderBy
    "gate_kappa" -> 10,
    // 32-group weighted agg + the 32-row rank window + 1-row CI agg +
    // the 1-row totals side
    "bootstrap_ci" -> 5,
    "label_noise" -> 4,
    // post-fence (round 10): the lm_perplexity chain runs eagerly behind
    // the doc-sized leaf; the returned plan is the two-level rank +
    // closed-form tercile + orderBy
    "perplexity_gate" -> 5,
    // frozen pricing on distinct words (one corpus pass) + broadcast
    // lookup join + per-doc agg + the budget two-level machinery
    "token_budget_unigram" -> 9,
    "wordpiece_merges" -> 1,
    "token_budget_wordpiece" -> 9,
    // two distinct-word passes (one per family) + a 1-row agg each +
    // the 2-row union orderBy
    "tokenizer_roundtrip" -> 8,
    // the kmv_intersect fence discipline: corpus-sized subtrees live
    // behind the two checkpoints; the exchanges move sketch-/pair-/
    // vocab-sized rows (union window, theta agg, the TWO pair-fanout +
    // anti-join + theta-filter survivor-count chains, and the three
    // calibration consumers of the distinct-token leaf — nd_a, nd_b,
    // exact_intersect — each with its keyed join, + orderBy)
    "kmv_difference" -> 28,
    // signed-cell agg (map-side combined, <= #langs x 4 x 512 rows out)
    // + row-estimate agg + the 4-row median window + exact-F2
    // calibration aggs/join + orderBy
    "f2_moment" -> 7,
    // (cust, date) observation agg + the change/interval windows (same
    // partition-order: one exchange) + orderBy
    "scd2_history" -> 3,
    // the driver-facing frame is the k-row greedy result (local
    // relation): at most its own orderBy plans an exchange
    "mmr_rerank" -> 2,
    // post-checkpoint plan: cluster-keyed self-join + the cluster-bounded
    // per-vector ranking window + orderBy (Lloyd behind the leaf)
    "knn_graph" -> 4,
    // post-checkpoint delta plan: kept-rows anti-join reads the stored
    // graph leaf, touched-members union feeds one cluster-keyed
    // self-join + bounded rank window + union orderBy (frozen-index
    // Lloyd, the base-graph build, and the delta assignment all live
    // behind fenced leaves)
    "knn_graph_delta" -> 5,
    // the persisted store's returned plan: the edges parquet scan
    // (hive cluster partitions) + orderBy; build/append run behind the
    // session cache
    "knn_store" -> 1,
    // the dedup_jaccard shape: shingle fence + block fence + banded
    // self-join + the two set-carrying verify joins + orderBy
    "dedup_containment" -> 10,
    // the driver-facing frame is the 3-row local funnel summary (stage
    // counts computed as three keyed-agg jobs, the pagerank discipline)
    "event_funnel" -> 2,
    // first-touch agg + distinct user-weeks + the (cohort, offset) agg
    // (+ the sizes re-derive and its join) + orderBy — all user-keyed
    "cohort_retention" -> 8,
    // whichever path the probe picks: at most the salted two-phase agg
    // (2 exchanges) + orderBy
    "salted_auto" -> 3,
    // driver-assembled 7-row verdict frame (anti-join counts run as
    // their own jobs, each parent side broadcast-able)
    "ref_integrity" -> 2,
    // one QI-keyed agg (count-distinct expands to two) + orderBy
    "k_anonymity" -> 3,
    // (doc, word) agg + doc rollup (count-distinct expand) + orderBy
    "gopher_rules" -> 4,
    // fenced #cells leaf: totals/leftover 1-row aggs + the cells-sized
    // remainder rank window + orderBy
    "eval_alloc" -> 6,
    // the alloc subtree over the fenced cells + the corpus-side
    // firstKPerKey machinery (shard agg + offsets + pruned window) +
    // orderBy
    "eval_sample" -> 10,
    // fenced #sources leaf: 1-row count agg + orderBy (the per-source
    // tokenize agg runs once behind the checkpoint fence)
    "data_epochs" -> 2,
    // per-source distinct-shingle agg (x2 re-derive for both join
    // sides), gram-keyed pair join, pair agg, two #sources-row size
    // joins, orderBy
    "source_overlap" -> 9,
    // the 16-min signature agg (x2 for the self-pairing sides) + the
    // full exact-matrix chain riding along as the err_q6 audit + orderBy
    "source_overlap_sketch" -> 11,
    // fenced #sources leaf: rank/prefix windows + 1-row count/boundary
    // aggs + orderBy — every exchange moves <= #sources rows
    "budget_waterfill" -> 4,
    // 6 axes x (keyed count + 1-row rollup) + union orderBy — every
    // exchange moves key-cardinality-sized count rows, never fact rows
    "skew_report" -> 12,
    // round 16: n_left/n_right derived from the keyed counts via one
    // full-outer join (were 2 extra scans + 2 exchanges per axis, 25
    // total); now 5 axes x (2 keyed counts + 1-row rollup) + union sort
    "join_cardinality" -> 16,
    // the join_cardinality tree + the stateless rule projection
    "plan_advisor" -> 16,
    // one map-side-combined split agg + orderBy; pure integer verdicts
    "layout_advisor" -> 2,
    // four doc-sized presence left-joins on fenced stage leaves +
    // orderBy (no stage re-executes)
    "curation_trace" -> 9,
    // one stateless langid scan + the #langs^2 agg + its tiny share
    // window + orderBy
    "lang_confusion" -> 3,
    // the bpe_stats shape: distinct-word agg feeding the broadcast
    // vocab + the (lang, bucket) agg + tiny share window + orderBy
    "bpe_coverage" -> 4,
    // one user-keyed lag window + the #types^2 agg + its tiny share
    // window + orderBy
    "event_transitions" -> 4,
    // user-day distinct agg (+ the day-spine re-derive) + the range
    // join's distinct-count agg + orderBy — everything user-day-sized
    "rolling_distinct" -> 6,
    // the asof_join union-scan shape, mirrored frame
    "asof_forward" -> 2,
    // the q1_cube Expand class: one scan + partial agg + orderBy
    "q1_sets" -> 2,
    // the dist_drift shape over length bins: two tiny keyed aggs + the
    // #bins-row join/windows + orderBy
    "hist_drift" -> 7,
    // both rankers' index_topk/bm25_topk subtrees (each its tf agg +
    // vocab-sized df re-derive + per-doc agg) + the <= 2k-row fusion
    // join + orderBy
    "ranker_agreement" -> 12,
    // closed-form ntile over rankPerKey (round 11): bucket-offsets agg +
    // the (type, _rb) window + the per-type count agg + orderBy
    "window_ntile" -> 5,
    // two map-side-combined partial aggs + the key-sized merge re-agg +
    // orderBy (history/delta scans are partition-pruned)
    "agg_incremental" -> 4,
    // post-fence: node-sized tri-corner union agg + two left joins onto
    // the vec list + orderBy; the kNN/mutual/orientation chain is fenced
    "knn_triangles" -> 6,
    // post-fence: two candidate-bounded rank windows + their keyed sums
    // + two joins back + the per-source argmax window + orderBy
    "bitext_mine" -> 8,
    // post-fence: the final delta-decrement probe + core join + two
    // node-sized left joins + orderBy (the peel rounds are fenced
    // node-sized leaves; the b-partitioned edge leaf never re-shuffles)
    "knn_kcore" -> 6,
    // (source, dim) keyed agg + #sources mean rollup + 1-row corpus
    // mean + doc-sized norm agg + join + orderBy
    "emb_drift" -> 6,
    // one scan + one tile-bounded (<= 2^18-row) keyed agg + orderBy
    "zorder_stats" -> 2,
    // the k-row driver frame orderBy — every distance round is fenced
    // and its argmax a TakeOrdered(1)
    "coreset_kcenter" -> 1,
    // post-fence: final node join + orderBy (each spreading round is a
    // fenced node-sized leaf)
    "quality_propagate" -> 3,
    // both rankers' subtrees (tf agg + df re-derive + per-doc agg each)
    // + the <= k-row comparison join (the ranker_agreement class)
    "rbo_overlap" -> 10,
    // one map-side token count into TakeOrdered + two 1-row aggs; the
    // count frame is fenced
    "zipf_fit" -> 2)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val scans = "ReadSchema: struct<([^>]*)".r.findAllMatchIn(plan)
        .map(_.group(1).split(",").length).toList
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
        .flatMap(m => m.group(1).split(",").map(_.trim).filter(_.nonEmpty))
        .size
      val exchanges = exchangeCount(plan)
      val reused = "(?m)^\\(\\d+\\) ReusedExchange".r.findAllIn(plan).size
      val bad = Seq(
        if (plan.contains("CartesianProduct")) "CARTESIAN" else "",
        if (plan.contains("BroadcastNestedLoopJoin") &&
          !PlanAudit.bnljWhitelist.contains(name))
          "BNLJ" else "").filter(_.nonEmpty)
      val upw = unpartitionedWindowCount(plan)
      val skw = stratumKeyedSortWindowCount(plan)
      println(f"$name%-22s scanCols=${scans.mkString("/")}%-14s pushed=$pushed exch=$exchanges reused=$reused upw=$upw skw=$skw ${bad.mkString(",")}")
    }
    spark.stop()
  }
}
