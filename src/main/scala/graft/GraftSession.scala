package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point — one place that encodes every
  * setting the engine's operators assume, so an application embedding
  * graft gets a correctly-configured session in one call instead of
  * rediscovering the contract by failure:
  *
  *  - `spark.sql.session.timeZone=UTC` — the reference's ISO-8601
  *    whole-second semantics (SURVEY §2 P6/B3) are UTC-pinned;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — the events table is
  *    parquet TIMESTAMP(NANOS), which Spark cannot read natively
  *    ([[graft.sources.Tables.events]] converts);
  *  - `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true`
  *    — each RocksDB state commit writes a changelog of the batch's
  *    updates instead of flushing and uploading a full snapshot (snapshots
  *    are taken in the background), which keeps the streaming operators'
  *    per-micro-batch commit cost proportional to what changed. Other
  *    state store providers ignore it;
  *  - `fs.AbstractFileSystem.file.impl=graft.ForkFreeLocalFs` — the
  *    `file:` filesystem behind Spark's `FileContext` checkpoint writes
  *    (offset and commit logs, RocksDB changelogs). Hadoop's own one,
  *    without its native library, forks a `chmod` per file created and
  *    four `readlink`s per checkpoint rename, on the micro-batch's
  *    blocking commit path; [[ForkFreeLocalFs]] does both in the JVM and
  *    keeps the atomic rename and the `.crc` checksum files. It reaches
  *    the checkpoint code because session confs are copied into every
  *    query's Hadoop configuration; other schemes are untouched;
  *  - the graft native expressions registered (`graft_dot`,
  *    `graft_simhash32`, …) — operator code paths and the SQL surface
  *    both resolve them;
  *  - shuffle partitions sized to the core count — the local/bench
  *    default; a cluster deployment overrides per its executor fleet;
  *  - AQE on — runtime re-planning (broadcast downgrades, skew splits)
  *    is part of the engine's scale story.
  *
  * Cluster deployments that cannot call [[local]] can instead set
  * `spark.sql.extensions=graft.expressions.GraftExtensions` plus the four
  * conf lines above on ANY session (the [[configure]] half is idempotent
  * and safe on a running session).
  */
object GraftSession {

  /** Hadoop's key for the `file:` scheme's `AbstractFileSystem`. */
  val LocalFsConf = "fs.AbstractFileSystem.file.impl"

  /** Apply the engine's session contract to an existing session:
    * UTC + nanos conf + RocksDB changelog checkpointing + the fork-free
    * local checkpoint filesystem + native-function registration.
    * Idempotent.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark.conf.set(LocalFsConf, classOf[ForkFreeLocalFs].getName)
    graft.sources.Tables.ensureNanosAsLong(spark)
    graft.expressions.VectorExpressions.register(spark)
    spark
  }

  /** A fully-configured local session (tests, notebooks, bench).
    *
    * getOrCreate may return a PRE-EXISTING session, in which case the
    * builder configs (and master/cores) are silently ignored — so the
    * runtime confs that matter (shuffle partitions, AQE) are re-applied
    * via conf.set below, which works on a live session. Only the static
    * confs (master, UI, nanos legacy flag) require local() to be the
    * first session creator in the JVM.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    configure(spark)
  }
}
