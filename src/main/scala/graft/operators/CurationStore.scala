package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** The PERSISTED form of the composed curation program — the production
  * daily shape: [[buildCurationManifest]] materializes the program's
  * per-document lineage state and admitted manifest at a path, and
  * [[applyCurationDelta]] folds a day's new documents in by re-running
  * gate/dedup/cap against the STORED state (delta-sized text work only)
  * instead of recomputing the corpus — the
  * [[PersistedIndex.appendToShingleIndex]] discipline applied to the
  * whole curation chain.
  *
  * Store layout at `path`:
  *   - `docs/`   — one row per EVER-ingested document, text-free:
  *     (doc_id, source, lang, n_tokens, quality_q4, text_hash, in_g,
  *     in_d, in_c, cap_rk). The gate/dedup/cap flags are IMMUTABLE under
  *     the append contract below, so a delta only ever appends rows.
  *   - `manifest/` — the admitted manifest ([[CurationProgram]]'s output
  *     columns), hive-partitioned by `split` (the production consumer
  *     reads one split's partitions; DPP prunes the rest).
  *
  * Append contract (the standard incremental-ingest precondition, shared
  * with [[TextPipeline.dedupIncrementalFrom]]): delta doc_ids exceed all
  * stored doc_ids. Under it, append(v1, delta) == recompute(v1 ∪ delta)
  * row-for-row (CurationStoreSpec proves this across arbitrary splits):
  *   - gate is per-doc stateless;
  *   - the exact-dedup winner is the MIN gated doc_id per text_hash —
  *     stored ids are all smaller, so no delta doc can displace a stored
  *     winner, and new-hash winners are decided within the delta;
  *   - the per-source cap admits the first k in doc_id order — stored
  *     admissions keep their ranks, the delta competes only for the
  *     remaining k - used slots (a per-source allowance frame through
  *     [[TextPipeline.firstKPerKey]]'s Right(targets) form);
  *   - the token budget admits in SEEDED-HASH order, which interleaves
  *     old and new docs — so that stage (and the split projection) is
  *     recomputed over the union. That is DELIBERATE and cheap: its
  *     input is the doc-sized, text-free `docs/` capped subset, so the
  *     daily maintenance cost is delta-sized text work + a doc-sized
  *     integer pass — never a corpus text rescan.
  *
  * The funnel and trace read the store ([[funnelFromStore]],
  * [[traceFromStore]]) with zero text scans — the lineage answer "why is
  * doc X not in the training set" comes from the stored flags plus
  * current-manifest membership.
  */
object CurationStore {

  private val DefaultMinQuality = 0.5
  private val DefaultK = 30
  private val DefaultBudget = 2000L

  /** The ONE text scan — identical expressions to CurationProgram.run's
    * base so the stored state and the from-scratch program agree bit-
    * for-bit (quality_q4 is the scaled-BIGINT driver surface).
    */
  private def baseScan(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"), col("source"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      round(TextPipeline.qualityCol, 4).as("quality"),
      md5(lower(trim(col("text")))).as("text_hash"))

  private def withQ4(df: DataFrame): DataFrame =
    df.withColumn("quality_q4",
      floor(col("quality") * 10000d + 0.5d).cast("long"))

  /** Build the store from scratch: run the program's gate/dedup/cap
    * stages once and persist the lineage + manifest.
    */
  def buildCurationManifest(spark: SparkSession, corpus: DataFrame,
      path: String, minQuality: Double = DefaultMinQuality,
      k: Int = DefaultK, budget: Long = DefaultBudget): Unit = {
    val base = Fence(withQ4(baseScan(corpus)))
    val gated = base.filter(col("quality") >= minQuality)
    val winners = gated.groupBy("text_hash")
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = Fence(gated.join(winners, Seq("doc_id")))
    val capped = TextPipeline.domainCapFrom(
        deduped.select(col("doc_id"), col("source")), k)
      .select(col("doc_id"), col("rk").as("cap_rk"))
    val docs = base
      .join(gated.select(col("doc_id")).withColumn("in_g", lit(true)),
        Seq("doc_id"), "left")
      .join(deduped.select(col("doc_id")).withColumn("in_d", lit(true)),
        Seq("doc_id"), "left")
      .join(capped.withColumn("in_c", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"), col("text_hash"),
        coalesce(col("in_g"), lit(false)).as("in_g"),
        coalesce(col("in_d"), lit(false)).as("in_d"),
        coalesce(col("in_c"), lit(false)).as("in_c"),
        col("cap_rk"))
    docs.repartition(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/docs/ingest=base")
    writeManifest(spark, path, budget)
  }

  /** Fold a delta corpus into the store: delta-sized text work against
    * the stored hash/cap state, land the delta's lineage rows in their
    * OWN `docs/ingest=<tag>` directory with overwrite semantics, then
    * recompute the (doc-sized, text-free) budget + split stages over the
    * union and rewrite `manifest/`.
    *
    * Idempotence by layout (the [[PersistedIndex.appendTextIndexBatch]]
    * discipline): a replayed delta overwrites its own ingest directory
    * instead of duplicating rows, and the stored state it reads EXCLUDES
    * that directory (partition-pruned), so the replay computes the
    * identical flags it computed the first time.
    */
  def applyCurationDelta(spark: SparkSession, delta: DataFrame,
      path: String, minQuality: Double = DefaultMinQuality,
      k: Int = DefaultK, budget: Long = DefaultBudget,
      ingestTag: String = ""): Unit = {
    val all = spark.read.parquet(s"$path/docs")
    val tag =
      if (ingestTag.nonEmpty) ingestTag
      else s"d${all.select(col("ingest")).distinct().count()}"
    val stored = all.filter(col("ingest") =!= tag)
    val base = withQ4(baseScan(delta)).transform(Fence)
    val gated = base.filter(col("quality") >= minQuality)
    // a delta doc loses dedup iff ANY stored GATED doc carries its hash
    // (stored ids are smaller by the append contract), else the MIN
    // delta id per new hash wins
    val storedHashes = stored.filter(col("in_g"))
      .select(col("text_hash")).distinct()
      .withColumn("seen", lit(true))
    val freshWinners = gated
      .join(storedHashes, Seq("text_hash"), "left")
      .filter(col("seen").isNull)
      .groupBy("text_hash").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = gated.join(freshWinners, Seq("doc_id"))
    // per-source remaining allowance: k - already-admitted; sources at
    // or over cap get 0 (firstKPerKey's offset < target prunes them out)
    val used = stored.filter(col("in_c")).groupBy("source")
      .agg(count(lit(1)).cast("long").as("used"))
    val targets = deduped.select(col("source")).distinct()
      .join(used, Seq("source"), "left")
      .select(col("source"),
        (lit(k.toLong) - coalesce(col("used"), lit(0L))).as("target"),
        coalesce(col("used"), lit(0L)).as("used"))
    val capped = TextPipeline.firstKPerKey(
        deduped.select(col("doc_id"), col("source"))
          .withColumn("shard", expr("doc_id div 64")),
        "source", Seq(col("doc_id")),
        Right(targets.select(col("source"), col("target"))))
      .join(targets.select(col("source"), col("used")), "source")
      .select(col("doc_id"), (col("used") + col("rk")).as("cap_rk"))
    val docs = base
      .join(gated.select(col("doc_id")).withColumn("in_g", lit(true)),
        Seq("doc_id"), "left")
      .join(deduped.select(col("doc_id")).withColumn("in_d", lit(true)),
        Seq("doc_id"), "left")
      .join(capped.withColumn("in_c", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"), col("text_hash"),
        coalesce(col("in_g"), lit(false)).as("in_g"),
        coalesce(col("in_d"), lit(false)).as("in_d"),
        coalesce(col("in_c"), lit(false)).as("in_c"),
        col("cap_rk"))
      // materialize BEFORE the write so the plan holds no open scan of
      // the tree it writes into
      .transform(Fence)
    docs.repartition(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/docs/ingest=$tag")
    writeManifest(spark, path, budget)
  }

  /** One micro-batch of the streaming ingest: the batch's lineage rows
    * land in `docs/ingest=b<batchId>` with overwrite semantics — a
    * replayed batch (foreachBatch's at-least-once contract) rewrites its
    * own directory against state that excludes it, reproducing the same
    * flags instead of double-counting.
    */
  private[graft] def appendCurationBatch(batch: DataFrame, path: String,
      batchId: Long, minQuality: Double = DefaultMinQuality,
      k: Int = DefaultK, budget: Long = DefaultBudget): Unit =
    applyCurationDelta(batch.sparkSession, batch, path, minQuality, k,
      budget, ingestTag = s"b$batchId")

  /** The streaming ingest twin — each arriving micro-batch of documents
    * folds into the persisted store through the SAME delta logic as the
    * batch [[applyCurationDelta]] (the production "the manifest keeps up
    * with the crawl" path; CurationStoreSpec proves N streamed batches
    * equal the one-shot recompute under the id-ordered append contract).
    * Start the returned writer with `.start()`.
    */
  def curationIngestStream(docs: DataFrame, path: String,
      checkpoint: String, minQuality: Double = DefaultMinQuality,
      k: Int = DefaultK, budget: Long = DefaultBudget)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          appendCurationBatch(batch.toDF(), path, id, minQuality, k, budget)
      }

  /** Compact a delta-grown store: fold every `docs/ingest=*` directory
    * back into ONE `ingest=base` partition — the
    * [[PersistedIndex.compactTextIndex]] LSM discipline. A year of daily
    * deltas is ~365 ingest directories whose file listings every read
    * pays for; compaction rewrites the union once (doc-sized, text-free)
    * and leaves reads byte-identical (spec-proven). Safe because the
    * lineage rows are immutable facts — only their physical layout
    * changes; the manifest is untouched (it derives from the same rows).
    */
  def compactCurationStore(spark: SparkSession, path: String): Unit = {
    val all = spark.read.parquet(s"$path/docs")
      .drop("ingest") // partition column; everything re-lands in base
      .transform(Fence) // materialize before rewriting the tree read from
    // stage under a dot-prefixed dir (hidden from partition discovery),
    // then swap with two renames — no reader ever lists a PARTIAL tree
    // (the StoreVersioning publish discipline; the manifest, the store's
    // actual query surface, is fully snapshot-isolated by version dirs)
    val staging = s"$path/.docs-compacting"
    val retiring = s"$path/.docs-retiring"
    val fs = StoreVersioning.fs(spark, path) // the store path's OWN fs
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    fs.delete(new org.apache.hadoop.fs.Path(retiring), true)
    all.repartition(col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/ingest=base")
    val docsPath = new org.apache.hadoop.fs.Path(s"$path/docs")
    // BOTH renames must be checked: if the retire rename fails silently
    // and execution continues, the second rename lands the staged tree
    // INSIDE the still-existing docs/ (posix mv-into semantics) — the
    // compaction is discarded with no error (the commitNextVersion
    // publish-race lesson applied to this sibling swap)
    require(fs.rename(docsPath, new org.apache.hadoop.fs.Path(retiring)),
      s"compaction aborted: could not retire $docsPath (concurrent " +
        "compaction or permission refusal); store untouched")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), docsPath),
      s"compaction failed publishing $staging -> $docsPath; the " +
        s"pre-compaction tree is at $retiring — restore it by renaming " +
        "back before reading this store")
    fs.delete(new org.apache.hadoop.fs.Path(retiring), true)
  }

  /** Recompute the budget + split stages over the stored capped set and
    * write the result as a NEW manifest version — pure integer work on
    * the doc-sized `docs/` frame (no text column exists in the store at
    * all). Every state change (build, delta, forget, ingest batch)
    * produces `manifest/version=<n+1>/`, never mutating an existing
    * version: readers pinned to a version see an immutable snapshot
    * while writers land the next one (snapshot isolation on plain
    * parquet — the lakehouse discipline without a table format), and
    * [[manifestDiff]] answers "what did yesterday's fold change" from
    * two version scans. [[pruneManifestVersions]] is the retention
    * lever; a version directory is doc-sized integers, so keeping a
    * month of dailies is cheap even at 10⁹ docs.
    */
  private def writeManifest(spark: SparkSession, path: String,
      budget: Long): Unit =
    StoreVersioning.commitNextVersion(spark, s"$path/manifest") { staging =>
      assembleManifest(spark.read.parquet(s"$path/docs"), budget)
        .write.mode(SaveMode.Overwrite).partitionBy("split")
        .parquet(staging)
    }

  /** Highest existing manifest version at `path`, or 0 when none exist
    * ([[StoreVersioning.latestVersion]] on the store path's own
    * filesystem — never `fs.defaultFS`). */
  def latestVersion(spark: SparkSession, path: String): Long =
    StoreVersioning.latestVersion(spark, s"$path/manifest")

  /** Drop manifest versions older than the `keep` most recent — the
    * retention pass a daily pipeline schedules beside
    * [[compactCurationStore]]. The CURRENT version is never dropped. */
  def pruneManifestVersions(spark: SparkSession, path: String,
      keep: Int): Unit =
    StoreVersioning.pruneVersions(spark, s"$path/manifest", keep)

  /** Admission changes between two manifest versions: one row per doc
    * whose membership flipped, `change` ∈ added | removed — "what did
    * the fold between v1 and v2 do to the training set", answered from
    * two version-pruned scans (no curation stage re-executes).
    */
  def manifestDiff(spark: SparkSession, path: String,
      v1: Long, v2: Long): DataFrame = {
    // a pruned/never-written side would read as an EMPTY frame and make
    // the diff claim every doc was added/removed — fail fast instead
    StoreVersioning.requireVersion(spark, s"$path/manifest", v1)
    StoreVersioning.requireVersion(spark, s"$path/manifest", v2)
    def m(v: Long) = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === v)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"))
    m(v2).join(m(v1).select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("change", lit("added"))
      .unionByName(
        m(v1).join(m(v2).select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("change", lit("removed")))
      .orderBy("doc_id")
  }

  private def assembleManifest(docs: DataFrame, budget: Long): DataFrame = {
    val capped = docs.filter(col("in_c"))
    val bucket = TextPipeline.hashBucket("split:")
    TextPipeline.tokenBudgetCore(
        capped.select(col("doc_id"), col("lang"), col("n_tokens")), budget)
      .select(col("doc_id"), col("start_offset"))
      .join(capped, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"), col("cap_rk"), col("start_offset"),
        bucket.as("bucket"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
  }

  /** The admitted manifest, read back from the store — equals
    * [[CurationProgram.curationProgramFrom]] over the ingested corpus
    * row-for-row (the driver's `curation_store` query runs THIS against
    * the `curation_program` oracle).
    */
  def readManifest(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val v = if (version > 0) version else latestVersion(spark, path)
    spark.read.parquet(s"$path/manifest")
      .filter(col("version") === v) // partition-pruned to one snapshot
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"), col("cap_rk"), col("start_offset"),
        col("bucket"), col("split"))
      .orderBy("doc_id")
  }

  /** [[CurationProgram.curationTraceFrom]]'s output contract served from
    * the store: stored stage flags + current-manifest membership (the
    * budget outcome is manifest membership by construction). Zero text.
    */
  def traceFromStore(spark: SparkSession, path: String): DataFrame = {
    val admitted = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === latestVersion(spark, path))
      .select(col("doc_id")).withColumn("in_b", lit(true))
    spark.read.parquet(s"$path/docs")
      .join(admitted, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"),
        when(!col("in_g"), "quality_gate")
          .when(!col("in_d"), "dedup_exact")
          .when(!col("in_c"), "domain_cap")
          .when(col("in_b").isNull, "token_budget")
          .otherwise("admitted").as("outcome"))
      .orderBy("doc_id")
  }

  /** [[CurationProgram.curationFunnelFrom]]'s output contract served
    * from the store: per-stage survivor counts and token volumes from
    * the stored flags + the current manifest. Zero text.
    */
  def funnelFromStore(spark: SparkSession, path: String): DataFrame = {
    val docs = spark.read.parquet(s"$path/docs")
    val manifest = spark.read.parquet(s"$path/manifest")
      .filter(col("version") === latestVersion(spark, path))
    def stage(no: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    stage(1, "ingest", docs)
      .unionByName(stage(2, "gated", docs.filter(col("in_g"))))
      .unionByName(stage(3, "deduped", docs.filter(col("in_d"))))
      .unionByName(stage(4, "capped", docs.filter(col("in_c"))))
      .unionByName(stage(5, "budgeted", manifest))
      .orderBy("stage_no")
  }

  /** Right-to-be-forgotten delete propagation — remove `ids` from the
    * store so every surface equals a from-scratch build over the corpus
    * MINUS the forgotten documents, with ZERO text work (the whole
    * recomputation runs on the stored text-free flags/hashes):
    *
    *   - dedup succession: a forgotten exact-dedup winner's hash promotes
    *     the smallest SURVIVING gated doc with that hash (stored
    *     `text_hash` makes this a per-affected-hash min — no text);
    *   - cap re-rank: sources that lost a doc, or GAINED one through
    *     promotion, re-run first-k-per-source over their surviving
    *     deduped docs; every other source's in_c/cap_rk is untouched
    *     (its deduped membership cannot have changed);
    *   - budget/split: recomputed over the union as always (doc-sized
    *     integer pass, the [[applyCurationDelta]] note).
    *
    * Physical deletes are COPY-ON-WRITE at ingest-partition granularity
    * (the Delta/Iceberg discipline on a plain-parquet store): only
    * `docs/ingest=` directories holding a forgotten row or a row whose
    * flags changed are rewritten; untouched partitions keep their files
    * byte-for-byte. CurationStoreSpec proves forget == recompute
    * row-for-row, idempotence, and the partition-granularity bound.
    *
    * Scale: affected-hash and affected-source frames are
    * deletion-sized; the rewrite is bounded by the partitions deletions
    * actually live in — a 1k-doc GDPR batch against a 10⁹-doc store
    * rewrites a handful of integer-row directories, never text.
    */
  def forgetDocs(spark: SparkSession, ids: DataFrame, path: String,
      k: Int = DefaultK, budget: Long = DefaultBudget): Unit = {
    val all = spark.read.parquet(s"$path/docs")
    val drop = ids.select(col("doc_id")).transform(Fence)
    val deleted = all.join(drop, Seq("doc_id")).transform(Fence)
    val surviving = all.join(drop, Seq("doc_id"), "left_anti")
      .transform(Fence)
    // dedup succession, confined to hashes a deletion touched
    val affHashes = deleted.select("text_hash").distinct()
    val inAffHash = surviving.join(broadcast(affHashes), Seq("text_hash"))
    val newWinners = inAffHash.filter(col("in_g"))
      .groupBy("text_hash").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").withColumn("w", lit(true))
    val dedupFixed = inAffHash
      .join(newWinners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("w"), lit(false)).as("in_d2"), col("in_d"))
    // sources needing a cap re-rank: lost a doc OR gained one by promotion
    val affSources = deleted.select("source")
      .unionByName(dedupFixed.filter(col("in_d2") =!= col("in_d"))
        .select("source"))
      .distinct().withColumn("aff", lit(true)).transform(Fence)
    val updated = surviving
      .join(dedupFixed.select(col("doc_id"), col("in_d2")),
        Seq("doc_id"), "left")
      .withColumn("in_d_new", coalesce(col("in_d2"), col("in_d")))
      .drop("in_d2")
      .join(broadcast(affSources), Seq("source"), "left")
    val recapped = TextPipeline.domainCapFrom(
        updated.filter(col("aff") && col("in_d_new"))
          .select(col("doc_id"), col("source")), k)
      .select(col("doc_id"), col("rk").as("cap_rk2"))
      .withColumn("c2", lit(true))
    val fixed = updated.join(recapped, Seq("doc_id"), "left")
      .withColumn("in_c_new",
        when(col("aff").isNotNull, coalesce(col("c2"), lit(false)))
          .otherwise(col("in_c")))
      .withColumn("cap_rk_new",
        when(col("aff").isNotNull, col("cap_rk2")).otherwise(col("cap_rk")))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("quality_q4"), col("text_hash"), col("in_g"),
        col("in_d_new").as("in_d"), col("in_c_new").as("in_c"),
        col("cap_rk_new").as("cap_rk"), col("ingest"),
        (col("in_d_new") =!= col("in_d") ||
          col("in_c_new") =!= col("in_c") ||
          !(col("cap_rk_new") <=> col("cap_rk"))).as("chg"))
    // copy-on-write: rewrite ONLY partitions holding a deletion or a
    // flag change; materialize before touching the tree read from
    val affParts = deleted.select(col("ingest"))
      .unionByName(fixed.filter(col("chg")).select(col("ingest")))
      .distinct().collect().map(_.getString(0)) // bounded: #ingest dirs
    val rewrite = StoreVersioning.inSegments(fixed, affParts.toSeq)
      .drop("chg").transform(Fence)
    affParts.foreach { p =>
      rewrite.filter(col("ingest") === p).drop("ingest")
        .repartition(col("doc_id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/docs/ingest=$p")
    }
    writeManifest(spark, path, budget)
  }

  /** Session-cached store over a testdata snapshot — the driver-query
    * hook: builds once per (application, sfDir) in a [[SessionCache]]
    * temp directory and serves the read-back manifest.
    */
  def manifestFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-curation-store", sfDir)(
      buildCurationManifest(spark, Tables.documents(spark, sfDir), _))
    readManifest(spark, path)
  }

  /** The DELTA path as a driver surface: build the store over the
    * first-half snapshot (doc_id below the median), fold the second half
    * in with [[applyCurationDelta]], and serve the read-back manifest —
    * which must STILL equal the from-scratch program over the whole
    * corpus (the spec's append == recompute contract, here checked by
    * the driver's oracle on every run). Cached per (app, sfDir) like
    * [[manifestFromSessionStore]] but at its own path — the build-only
    * store must not serve delta-folded reads.
    */
  /** The FORGET path as a driver surface: build the store over the full
    * snapshot, forget every doc_id ≡ 2 (mod 13), read the manifest back
    * — which must equal the from-scratch program over the corpus MINUS
    * the forgotten docs (the driver oracle filters its base CTE the same
    * way, so the green hash IS the forget ≡ recompute proof, including
    * dedup-winner succession and cap re-ranks).
    */
  def manifestFromSessionForgetStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-curation-store-forget",
        sfDir) { p =>
      val corpus = Tables.documents(spark, sfDir)
      buildCurationManifest(spark, corpus, p)
      forgetDocs(spark,
        corpus.filter(pmod(col("doc_id"), lit(13)) === 2)
          .select(col("doc_id")), p)
    }
    readManifest(spark, path)
  }

  /** Version time travel as a driver surface: build on the id-ordered
    * first half (cut = max(doc_id) div 2 — SF-generic and replayable by
    * the oracle), fold the second half in, and return
    * [[manifestDiff]](v1, v2) — the docs the delta fold added to or
    * re-leveled out of the training set. The oracle recomputes both
    * programs and diffs them, so the green hash proves version
    * isolation AND the diff semantics at once.
    */
  def manifestDiffFromSessionStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-curation-store-versions",
        sfDir) { p =>
      val corpus = Tables.documents(spark, sfDir)
      val cut = corpus.agg((max(col("doc_id")).cast("long") / 2)
        .cast("long")).head.getLong(0)
      buildCurationManifest(spark, corpus.filter(col("doc_id") < cut), p)
      applyCurationDelta(spark, corpus.filter(col("doc_id") >= cut), p)
    }
    manifestDiff(spark, path, 1L, 2L)
  }

  def manifestFromSessionDeltaStore(spark: SparkSession,
      sfDir: String): DataFrame = {
    val path = SessionCache.directory(spark, "graft-curation-store-delta",
        sfDir) { p =>
      val corpus = Tables.documents(spark, sfDir)
      val cut = corpus.agg(
        org.apache.spark.sql.functions.percentile_approx(
          col("doc_id"), lit(0.5), lit(100))).head.getLong(0)
      buildCurationManifest(spark, corpus.filter(col("doc_id") < cut), p)
      applyCurationDelta(spark, corpus.filter(col("doc_id") >= cut), p)
    }
    readManifest(spark, path)
  }
}
