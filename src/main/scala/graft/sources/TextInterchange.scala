package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interchange-format ingest/export for the document corpus — the file
  * shapes a training-data pipeline actually exchanges with the outside
  * world (crawl dumps arrive as JSONL; labeling vendors want CSV; ORC is
  * the other columnar the warehouse may already hold).
  *
  * The 100 TB rules these implement:
  *
  *  - **Schema-explicit reads, never inference.** `spark.read.json`
  *    without a schema runs a FULL extra pass over the data to infer one
  *    — at 100 TB that is a second 100 TB scan before the first real
  *    job. Every reader here takes the schema as a value.
  *  - **Quarantine, don't crash.** A crawl dump WILL contain malformed
  *    lines. PERMISSIVE mode + `columnNameOfCorruptRecord` lands bad
  *    lines in a `_corrupt` column instead of failing the job at hour
  *    nine; [[readJsonl]] splits them into a quarantine frame the
  *    pipeline can count/store (the data-quality surface), and good rows
  *    flow on typed.
  *  - **Splittability is a layout decision.** Gzip JSONL is NOT
  *    splittable — one 100 GB .json.gz = one task. The writer emits
  *    uncompressed (or many files via the caller's repartition); the
  *    scaladoc is the contract.
  *
  * JSON/CSV are row formats: a read scans every byte even for one
  * column (no pruning, no predicate pushdown — PlanAudit would show
  * pushed=0). They are INGEST/EXPORT shapes; the first pipeline step is
  * always a rewrite to parquet/ORC ([[Tables]] reads stay columnar).
  */
object TextInterchange {

  /** The documents table's explicit interchange schema, plus the corrupt
    * capture column ([[readJsonl]] strips it from the good-rows frame).
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Export a frame as uncompressed JSONL (one object per line — the
    * crawl-dump lingua franca). Caller controls file count/size via its
    * own repartition; uncompressed keeps every file splittable.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Schema-explicit, quarantine-tolerant JSONL read: returns
    * (good rows typed to `schema` minus `_corrupt`, quarantined rows as
    * raw_line + the partially-parsed fields). A row is quarantined when
    * the line is unparseable OR any typed field failed to cast.
    *
    * Deliberately a TEXT scan + a `from_json` EXPRESSION rather than
    * `spark.read.json`: the file-source JSON parser refuses any query
    * whose referenced columns prune down to only the corrupt-record
    * column (so `quarantined.count()` — the first thing a data-quality
    * monitor does — throws UNSUPPORTED_FEATURE); the expression form has
    * no such restriction, parses once, and stays inside codegen.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType = documentsSchema): (DataFrame, DataFrame) = {
    val parsed = spark.read.text(path)
      .select(col("value"),
        from_json(col("value"), schema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    split(parsed)
  }

  /** Good/quarantine split of text lines parsed into a struct `r` whose
    * schema carries the `_corrupt` capture field. */
  private def split(parsed: DataFrame): (DataFrame, DataFrame) = {
    val bad = col("r").isNull || col("r._corrupt").isNotNull
    val good = parsed.filter(!bad).select(col("r.*")).drop("_corrupt")
    val quarantined = parsed.filter(bad)
      .select(col("value").as("raw_line"))
    (good, quarantined)
  }

  /** Export as headered CSV. `text` can contain every CSV metacharacter,
    * so quoting + escaping are pinned explicitly (quote-doubling, the
    * RFC 4180 shape) rather than left to defaults.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)

  /** Schema-explicit CSV read with the same quoting contract and the
    * same text-scan + `from_csv` quarantine discipline as [[readJsonl]]
    * (same UNSUPPORTED_FEATURE rationale). Per-file header lines are
    * dropped by exact match against the schema's header string — the
    * text-scan form's one contract difference from the file reader.
    * Records with EMBEDDED NEWLINES need the file reader's
    * `multiLine=true`, which makes each file one unsplittable task — if
    * the corpus has multi-line text, export JSONL (escaped \n keeps
    * lines physical) instead of CSV.
    */
  def readCsv(spark: SparkSession, path: String,
      schema: StructType = documentsSchema): (DataFrame, DataFrame) = {
    val fields = schema.fieldNames.filter(_ != "_corrupt")
    val header = fields.mkString(",")
    // from_csv parses POSITIONALLY: a file written in a different column
    // order would round-trip with silently swapped string columns. Any
    // header-SHAPED line (same field-name set) that isn't the schema's
    // exact order fails the scan loudly instead — checked inside the
    // same filter, no extra pass.
    // cheap per-row prefilter before the split+sort: every header-shaped
    // line must contain the first field name, so ordinary data lines
    // short-circuit on one contains() instead of paying the array work
    val headerShaped = col("value").contains(fields.head) &&
      array_sort(
        org.apache.spark.sql.functions.split(col("value"), ",")) ===
      array(fields.sorted.map(lit): _*)
    val notHeader = when(headerShaped && col("value") =!= header,
        raise_error(concat(
          lit(s"CSV header order does not match schema '$header': "),
          col("value"))).isNotNull)
      .otherwise(col("value") =!= header)
    val parsed = spark.read.text(path)
      .filter(notHeader)
      .select(col("value"),
        from_csv(col("value"), schema, Map(
          "quote" -> "\"",
          "escape" -> "\"",
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    split(parsed)
  }

  /** ORC round trip — the other columnar: pruning and predicate pushdown
    * work like parquet's (CorpusWriterSpec asserts the pushed filter in
    * the ORC scan), so an ORC-resident warehouse can feed the engine
    * without a parquet conversion pass.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** The streaming crawl-ingest front door: watch a directory for JSONL
    * files, parse each micro-batch with the SAME schema-explicit
    * quarantine split as [[readJsonl]], append quarantined raw lines to
    * `quarantinePath` (one directory per batch — the monitoring surface:
    * a corrupt-rate alarm reads this), and hand the typed good rows to
    * `fold` (e.g. a [[graft.operators.CurationStore]] batch append —
    * raw crawl files to curated manifest with no intermediate job).
    * Start with `.start()`.
    *
    * Scale: the file source lists and checkpoints file names (no
    * content state); parse is expression-only; quarantine writes are
    * bad-line-sized. The fold's own idempotence contract handles
    * at-least-once replays; quarantine dirs are per-batch for the same
    * reason (a replayed batch rewrites its own directory).
    */
  def jsonlIngestStream(spark: SparkSession, dir: String,
      quarantinePath: String, checkpoint: String,
      schema: StructType = documentsSchema)
      (fold: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    spark.readStream.text(dir).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          val parsed = batch.toDF()
            .select(col("value"),
              from_json(col("value"), schema, Map(
                "mode" -> "PERMISSIVE",
                "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
          val (good, quarantined) = split(parsed)
          quarantined.write.mode(SaveMode.Overwrite)
            .parquet(s"$quarantinePath/batch=b$id")
          fold(good, id)
      }

  // ------------------------------------------------------------ driver --

  private def cachedDir(spark: SparkSession, sfDir: String, kind: String)
      (write: (DataFrame, String) => Unit): String =
    graft.operators.SessionCache.directory(spark,
      s"graft-interchange-$kind", sfDir)(
      write(Tables.documents(spark, sfDir), _))

  /** Per-source corpus profile computed AFTER a full parquet → format →
    * typed-read round trip; equality with the oracle (which reads the
    * original parquet) proves the export/ingest path loses nothing —
    * ids, UTF-8 text bytes (via the md5 column), numerics.
    */
  private[graft] def roundtripProfile(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(md5(concat_ws("", col("doc_id"), col("text"))))
          .as("min_digest"))
      .orderBy("source")

  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(spark, sfDir, "jsonl")(writeJsonl(_, _))
    val (good, _) = readJsonl(spark, dir)
    roundtripProfile(good)
  }

  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(spark, sfDir, "csv")(writeCsv(_, _))
    val (good, _) = readCsv(spark, dir)
    roundtripProfile(good)
  }

  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(spark, sfDir, "orc")(writeOrc(_, _))
    roundtripProfile(readOrc(spark, dir))
  }
}
